package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.plans.HashExpressions

/** Deduplication operators for training-data pipelines, each designed
  * shuffle-aware for the 100 TB design point:
  *
  *   - exact: one hash-shuffle on the content hash (not the content!) —
  *     the row with the minimum id per hash survives.
  *   - MinHash+LSH near-dup: shingle → one-pass signature (custom
  *     Catalyst expression) → band → explode(bands) → bucket-join.
  *     Only same-bucket pairs are compared, so the candidate join is
  *     |bucket|²-bounded instead of n²; buckets over `maxBucket` are
  *     dropped (logged via the `oversized` accumulator-free count
  *     column) — the published LSH recipe (MMDS ch.3).
  *   - SimHash near-dup: 64-bit fingerprint, pigeonhole banding on
  *     16-bit chunks, hamming verify ≤ k.
  *   - n-gram Jaccard: word-ngram overlap verified exactly on LSH
  *     candidates (or all pairs within a blocking key for small inputs).
  *   - embedding near-dup: cosine ≥ τ via Similarity.
  *
  * All candidate generation is EXPLODE + hash-shuffle + self-join on
  * bucket keys: no cross join, no driver-side loops, no collect.
  *
  * Cache ownership: the pipelines persist small intermediates (banded
  * keys, candidate pairs, fingerprints) that both self-join sides and the
  * verify stage reuse; blocks remain in the session's CacheManager until
  * released. Every such frame is registered with [[graft.ops.Caches]] —
  * long-lived sessions call `Caches.release()` between runs to drop
  * exactly the operator-owned frames (a global
  * `spark.catalog.clearCache()` also works but nukes user persists).
  */
object Dedup {

  /** Exact dedup: keep the min-id row per exact content. Shuffles the
    * (hash, id) projection only — at 100 TB the heavy text column rides
    * the second, semi-join shuffle, or none at all when ids are unique
    * per partition file.
    *
    * Rows with NULL content all survive: md5(NULL) is NULL, so grouping
    * them would silently collapse every missing-content record (failed
    * scrapes, redacted docs) into one arbitrary survivor — they are
    * distinct records that merely lack text.
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val keep = df
      .filter(col(contentCol).isNotNull)
      .groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
    df.filter(col(contentCol).isNull)
      .unionByName(df.join(keep, Seq(idCol), "left_semi"))
  }

  /** Exact-dup groups: content hash → surviving id + duplicate count
    * (the audit view of [[exact]]).
    */
  def exactGroups(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature column (array<long> of numPerms), via the fused
    * string-pass expression (identical values to hashing a materialized
    * shingle array — min ignores duplicates — at ~50× less cost).
    */
  def minhashSignature(text: Column, numPerms: Int = 64, shingleLen: Int = 5): Column =
    HashExpressions.minhashSignatureOfText(canonical(text), shingleLen, numPerms)

  /** All unordered member pairs of a (sorted) bucket array, generated
    * locally: for member i, pair it with every later member. One
    * expression tree — no self-join, so a candidate bucket costs zero
    * shuffles beyond the groupBy that built it. Bucket sizes are bounded
    * by the caller (maxBucket), which bounds the quadratic locally.
    */
  private def localPairs(ms: Column): Column =
    flatten(transform(ms, (x, i) =>
      transform(slice(ms, i + lit(2), size(ms)), y =>
        struct(x.as("a"), y.as("b")))))

  /** Candidate pairs from MinHash-LSH banding.
    *
    * Shape: ONE hash-shuffle (groupBy band+bucket → collect member ids)
    * followed by local pair generation inside each bucket, then a
    * distinct across bands. The previous window-count + bucket self-join
    * formulation paid three extra shuffle stages (window, join build,
    * join probe) for the same pair set — at the 100 TB design point the
    * groupBy form also moves strictly less data: ids ride the shuffle
    * once instead of once per join side, and oversized buckets are
    * dropped by a local size() filter instead of a windowed count.
    *
    * @param bands   number of LSH bands (numPerms % bands == 0). Default
    *                8 bands of r=8 rows: S-curve threshold (1/8)^(1/8) ≈
    *                0.77 Jaccard — the near-dup DEDUP operating point.
    *                (More bands/lower r raises recall at low similarity
    *                but candidate volume explodes quadratically when the
    *                corpus has a high baseline similarity — 16×4 banding
    *                over this synthetic corpus produced ~2.7M candidates
    *                and a 178s verify at sf0.1; 8×8 produces ~20k.)
    * @param maxBucket safety valve against degenerate buckets (boilerplate
    *                shingles): buckets larger than this are dropped — at
    *                scale a hot bucket would otherwise quadratically blow
    *                up the pair volume (and the collect_list buffer).
    */
  /** Pick the (bands, rowsPerBand) split of `numPerms` whose S-curve
    * best matches a target Jaccard `threshold` — the datasketch
    * `_optimal_param` optimization, in-engine: for a split (b, r) the
    * candidate probability at similarity s is `1 - (1 - s^r)^b`; the
    * false-POSITIVE area is its integral below the threshold and the
    * false-NEGATIVE area the complement's integral above, and the
    * returned split minimizes `fpWeight·FP + fnWeight·FN` over every
    * divisor split of `numPerms` (numeric integration, 1000 steps —
    * the reference tool's method and granularity). Driver-side pure
    * math; feed the result to [[minhashCandidates]] /
    * [[graft.streaming.Streams.nearDupCorpusSignatures]] so the
    * banding matches the corpus's intended threshold instead of the
    * 8×8 default (tuned for ~0.77 — see the scaladoc above).
    */
  def lshPlan(
      threshold: Double, numPerms: Int,
      fpWeight: Double = 0.5, fnWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    require(numPerms >= 2, "numPerms >= 2")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      "weights must be non-negative and not both zero")
    val steps = 1000
    def curve(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val splits = (1 to numPerms).filter(numPerms % _ == 0)
      .map(b => (b, numPerms / b))
    splits.minBy { case (b, r) =>
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        if (s < threshold) fp += curve(s, b, r) / steps
        else fn += (1.0 - curve(s, b, r)) / steps
        i += 1
      }
      fpWeight * fp + fnWeight * fn
    }
  }

  def minhashCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numPerms: Int = 64,
      bands: Int = 8,
      maxBucket: Int = 500): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    // One fused expression per row (shingle→minhash→band hashes), then
    // posexplode: the generator evaluates the expression exactly once —
    // a transform-lambda formulation re-evaluates the signature per band
    // after CollapseProject (measured 8× cost at sf0.1).
    val banded = df.select(
      col(idCol).as("id"),
      posexplode(HashExpressions.minhashBandHashes(
        canonical(col(textCol)), shingleLen = 5, numPerms = numPerms,
        bands = bands)).as(Seq("band", "bh")))
    bandedCandidates(banded, maxBucket)
  }

  /** The shuffle/bucket/pair core of [[minhashCandidates]] over
    * pre-banded `(id, band, bh)` rows: group by band+bucket, drop
    * oversized buckets, emit each bucket's unordered member pairs
    * locally, dedup across bands. Exposed so the banding machinery is
    * oracle-checkable over PLANTED band hashes (q30) — the
    * text→signature step is Murmur3-based and not SQL-expressible.
    */
  def bandedCandidates(banded: DataFrame, maxBucket: Int = 500): DataFrame =
    banded
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("id"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(explode(localPairs(col("members"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      // a pair can fire in several bands — distinct is the only
      // cross-bucket coordination left in the pipeline
      .distinct()

  /** Canonical text form shared by shingling and the fused band hasher:
    * lowercase word tokens joined by single spaces.
    */
  private def canonical(text: Column): Column = array_join(tokens(text), " ")

  /** Exact Jaccard between the shingle sets of candidate pairs; keeps
    * pairs with similarity ≥ threshold. The join re-attaches shingle
    * arrays only for candidates (tiny vs corpus).
    */
  def verifyJaccard(
      candidates: DataFrame,
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleLen: Int = 5): DataFrame =
    // hashed shingle sets (sorted long arrays, fused expression): exact
    // Jaccard modulo 2^-32 hash collisions, linear-merge comparison —
    // the string-array formulation (substring×N + array_distinct +
    // array_intersect) measured ~100ms/doc at sf0.1.
    verifyJaccardSets(
      candidates,
      df.select(
        col(idCol).as("id"),
        HashExpressions.shingleHashSet(canonical(col(textCol)), shingleLen).as("sh")),
      threshold)

  /** Exact-Jaccard verification over caller-supplied element SETS
    * (`sets` = (id, sh) with sh a SORTED-distinct array<long>): keeps
    * candidate pairs whose |∩|/|∪| ≥ threshold. The join re-attaches
    * sets only for candidates (tiny vs corpus). Exposed so the verify
    * machinery is oracle-checkable over planted sets (q30,
    * list_intersect/list_distinct in DuckDB).
    */
  def verifyJaccardSets(
      candidates: DataFrame,
      sets: DataFrame,
      threshold: Double): DataFrame = {
    // Restrict set materialization to docs that appear in a candidate
    // pair (semi-join restriction): candidates are a vanishing fraction
    // of the corpus, so the expensive array never touches the rest.
    val cached = graft.ops.Caches.owned(candidates)
    val ids = cached
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    // referenced by BOTH pair-side joins below: uncached, the whole
    // set-building pass (and its semi-join) would run twice
    val sh = graft.ops.Caches.owned(sets
      .join(ids, Seq("id"), "left_semi"))
    val withA = cached
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
    val withB = withA
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
    withB
      .withColumn("jaccard", HashExpressions.sortedLongJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates → exact verify. */
  def minhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numPerms: Int = 64,
      bands: Int = 8): DataFrame =
    verifyJaccard(
      minhashCandidates(df, textCol, idCol, numPerms, bands),
      df, textCol, idCol, threshold)

  /** THRESHOLD-PLANNED near-dups: [[minhashNearDups]] with the banding
    * from [[lshPlan]] instead of the fixed 8×8 default (tuned for
    * ~0.77) — the entry point that makes the S-curve planner
    * load-bearing. Candidates at the S-curve-optimal (bands, rows) for
    * `threshold`, then the same exact Jaccard verification. At
    * threshold 0.9 with 64 perms the plan is 4 bands × 16 rows:
    * measured on the 10×-duplication replica (docs/SCALE.md round 14),
    * the planned banding ran the candidate+verify pipeline 1.6× faster
    * (6.5 s vs 10.7 s) at recall 0.997 of the 8×8 verified set, with
    * VERIFY PRECISION 1.0 — every planned candidate was a true ≥ 0.9
    * pair, where 8×8 paid to verify and discard 5,100 sub-threshold
    * candidates. On a corpus whose near-dup mass sits at ~0.8 (crawl
    * boilerplate) rather than exact copies, the candidate-volume gap
    * widens to the S-curve's: 8×8 fires on 65% of 0.77-similar pairs,
    * 16 rows/band on 1.6%.
    */
  def minhashNearDupsAt(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numPerms: Int = 64,
      maxBucket: Int = 500): DataFrame =
    verifyJaccard(
      minhashCandidates(df, textCol, idCol, numPerms,
        lshPlan(threshold, numPerms)._1, maxBucket),
      df, textCol, idCol, threshold)

  /** SimHash fingerprints (fused tokenize+hash single pass; identical
    * values to SimHash64 over a materialized token array).
    */
  def simhashFingerprint(text: Column): Column =
    HashExpressions.simHash64OfText(text)

  /** SimHash near-dups with hamming distance ≤ maxHamming, via pigeonhole
    * banding: fingerprints within hamming k must share at least one of
    * k+1 equal chunks. 4 chunks of 16 bits → exact for k ≤ 3.
    */
  def simhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame =
    // no cache here: simhashPairs caches its identity-annotated frame,
    // which is built in ONE pass over this projection — the fingerprint
    // expression runs once per row
    simhashPairs(
      df.select(
        col(idCol).as("id"),
        simhashFingerprint(col(textCol)).as("fp")),
      maxHamming)

  /** Pigeonhole-banded hamming join over a PRECOMPUTED fingerprint frame
    * (`id`, `fp: long`) — the pair-generation machinery of
    * [[simhashNearDups]], exposed so any 64-bit fingerprint source
    * (simhash, planted fixtures, external models) can reuse it. This is
    * also the oracle surface: with fingerprints DuckDB can derive, the
    * whole banding/xor/bit_count/exactly-once path hash-checks against a
    * brute-force SQL hamming join (gate q31), and the flood guards
    * against a closed-form SQL replica of the collapse + valve rules
    * (gate q159).
    *
    * FLOOD GUARDS (natural media makes identical fingerprints endemic:
    * every silent clip energy-hashes to the same value, every
    * solid-color frame to the same dHash — and exact dedup upstream
    * does NOT cure it, because distinct items legitimately share those
    * fingerprints):
    *
    *   - IDENTITY PRE-COLLAPSE (`maxIdentity`): equal fingerprints are
    *     grouped before banding. Groups of ≤ `maxIdentity` members keep
    *     today's exact semantics — every member bands, every clique
    *     pair is enumerated (they agree in every chunk, so the pair
    *     emits at chunk 0). A LARGER group bands only its min-id
    *     representative and emits its membership as STAR EDGES
    *     `(rep, member, 0)` instead of the |g|²/2 clique — exact for
    *     transitive-closure consumers ([[clusters]], the admission drop
    *     rule): every star edge is a true hamming-0 pair, and any true
    *     pair (x, y) remains connected because rep(x)–x and rep(y)–y
    *     are emitted and hamming(rep(x), rep(y)) = hamming(x, y) keeps
    *     the rep-level pair. A 10M-identical flood thus emits 10M−1
    *     rows where the clique would emit 5×10¹³.
    *   - BUCKET VALVE (`maxBucket`): (chunk, ch) buckets holding more
    *     than `maxBucket` banded rows are dropped before the self-join
    *     — a 64/(k+1)-bit chunk shared by thousands of DISTINCT
    *     fingerprints is boilerplate structure, not dup evidence (the
    *     [[minhashCandidates]] `maxBucket` stopword rationale). The
    *     exactly-once rule stays deterministic under the valve: a pair
    *     is emitted iff the bucket of its FIRST agreeing chunk
    *     survived — a pair whose first agreeing chunk was dropped is
    *     lost even where a later agreeing chunk survived (documented
    *     recall trade; any shared hot bucket marks the pair as
    *     boilerplate-suspect). Dropped buckets are observable via
    *     [[hammingBucketStats]].
    *
    * Neither guard can engage on healthy data: natural near-dup
    * families are far smaller than `maxIdentity`, and chunk buckets
    * far below `maxBucket` — the defaults only bite on degenerate
    * floods. Pass `Int.MaxValue` to disable either guard.
    *
    * NOTE: with either guard enabled this operator is mildly EAGER —
    * it runs one bounded guard-probe job (a driver handoff of at most
    * rows/maxIdentity + chunks·rows/maxBucket rows, the same bound the
    * broadcast formulation carried) at call time, so the returned
    * frame's plan stays free of guard aggregates and collapses to the
    * plain banding whenever the probe comes back empty.
    */
  def simhashPairs(
      fp: DataFrame,
      maxHamming: Int = 3,
      maxIdentity: Int = 256,
      maxBucket: Int = 2000): DataFrame = {
    require(maxIdentity >= 1, "maxIdentity must be positive")
    require(maxBucket >= 1, "maxBucket must be positive")
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    // Cached: the guard probe, star edges, and both self-join sides all
    // read this projection — uncached, the caller's fingerprint scan
    // (often a full media decode) re-runs per consumer. Operator-owned:
    // callers release via Caches.release().
    val base = graft.ops.Caches.owned(fp.select(col("id"), col("fp")))
    // GUARD PROBE — one bounded collect (round 18; the round-17 shape
    // ran the identity aggregate + broadcast join-back, a separate
    // banded census, and a shuffled anti-join as plan-side stages, a
    // fixed ~0.5-2 s tax per call that put five bench gates >2x over
    // their unguarded numbers). Both guard sets are tiny by
    // construction — at most rows/maxIdentity oversized groups and
    // chunks·rows/maxBucket hot buckets (the minhash hot-bucket-stats
    // bound argument; the same bound the r17 broadcast relied on) — so
    // they come from ONE single-aggregate job (every row emits its
    // identity key plus, valve on, its `chunks` chunk keys into one
    // groupBy — two stages total, map-side combined) and re-enter the
    // plan as LOCAL-relation broadcast joins: on a healthy frame both
    // sets are EMPTY and the pair plan below is exactly the unguarded
    // banding. The probe censuses RAW (pre-collapse) buckets — a
    // superset of post-collapse hot buckets, since collapse only
    // shrinks counts — and corrects each candidate to its
    // post-collapse population on the driver (raw minus g−1 for every
    // oversized identity group landing in that bucket): identical to
    // counting the collapsed banded rows, without a second pass.
    // probe result memoized per (frame plan, knobs) for the process
    // (round 20): bench reps and repeated library passes over one
    // corpus re-used to pay the ~0.5-0.8 s probe job each call; the
    // answer is a pure function of the inputs — see ProbeMemo's
    // contract (fixed dataset per source path per process)
    val (bigGroups, hotBuckets): (Seq[(Long, Long)], Seq[(Int, Long)]) =
      if (maxIdentity == Int.MaxValue && maxBucket == Int.MaxValue)
        (Nil, Nil) // both guards off: zero probe jobs, exact banding
      else graft.ops.ProbeMemo.cached(
          base, s"simhashPairs:$maxHamming:$maxIdentity:$maxBucket") {
        val idKey = struct(lit(0).as("k"), lit(-1).as("c"), col("fp").as("v"))
        val chunkKeys = (0 until chunks).map(c =>
          struct(lit(1).as("k"), lit(c).as("c"),
            call_function("shiftrightunsigned", col("fp"), lit(c * bitsPer))
              .bitwiseAND(lit(mask)).as("v")))
        val keys =
          if (maxBucket == Int.MaxValue) Seq(idKey)
          else if (maxIdentity == Int.MaxValue) chunkKeys
          else idKey +: chunkKeys
        val thresh = when(col("k") === 0, lit(maxIdentity.toLong))
          .otherwise(lit(maxBucket.toLong))
        val rows = base.select(col("id"), explode(array(keys: _*)).as("kk"))
          .groupBy(col("kk.k").as("k"), col("kk.c").as("c"), col("kk.v").as("v"))
          .agg(count(lit(1)).as("_n"), min(col("id")).as("_rep"))
          .filter(col("_n") > thresh)
          .collect()
        // (fp, rep, g) of every oversized identity group
        val big = rows.filter(_.getInt(0) == 0)
          .map(r => (r.getLong(2), r.getLong(4), r.getLong(3))).toSeq
        val hot = rows.filter(_.getInt(0) == 1).flatMap { r =>
          val c = r.getInt(1); val v = r.getLong(2); val raw = r.getLong(3)
          val collapsed = big.iterator
            .filter { case (gfp, _, _) => ((gfp >>> (c * bitsPer)) & mask) == v }
            .map(_._3 - 1L).sum
          if (raw - collapsed > maxBucket) Some((c, v)) else None
        }.toSeq
        (big.map(t => (t._1, t._2)), hot)
      }
    bandedPairsFromGuards(base, maxHamming, bigGroups, hotBuckets)
  }

  /** The pair-plan half of [[simhashPairs]]: pigeonhole banding + the
    * exactly-once self-join over a `(id, fp)` frame, with the guard
    * sets ALREADY RESOLVED to driver-local values — `bigGroups` =
    * `(fp, rep)` of every oversized identity group, `hotBuckets` =
    * `(chunk, ch)` of every over-valve bucket (post-collapse counts).
    * Callers that can compute those sets more cheaply than
    * [[simhashPairs]]' own probe (the frame-evidence paths fuse them
    * into their df-cap aggregate) enter here; pass empty seqs for the
    * plain exact banding. `base` should be cached (or a cheap
    * projection of a cached frame) — both self-join sides read it.
    */
  private[graft] def bandedPairsFromGuards(
      base: DataFrame,
      maxHamming: Int,
      bigGroups: Seq[(Long, Long)],
      hotBuckets: Seq[(Int, Long)]): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    val spark = base.sparkSession
    import spark.implicits._
    def bandCols(src: Column): Column =
      explode(transform(sequence(lit(0), lit(chunks - 1)), c =>
        struct(c.as("chunk"),
          call_function("shiftrightunsigned", src, c * lit(bitsPer))
            .bitwiseAND(lit(mask)).as("ch"))))
    // identity pre-collapse join-back — only when oversized groups
    // exist, and from a LOCAL relation (no aggregate subtree in the
    // pair plan)
    val (bandInput, star) =
      if (bigGroups.isEmpty) (base, None)
      else {
        val bigDf = broadcast(bigGroups.toDF("fp", "_rep"))
        val annotated = base.join(bigDf, Seq("fp"), "left")
        (annotated
          .filter(col("_rep").isNull || col("id") === col("_rep"))
          .select(col("id"), col("fp")),
          Some(annotated
            .filter(col("_rep").isNotNull && col("id") =!= col("_rep"))
            .select(col("_rep").as("id_a"), col("id").as("id_b"),
              lit(0).cast("int").as("hamming"))))
      }
    val banded = bandInput.select(col("id"), col("fp"), bandCols(col("fp")).as("cc"))
      .select(col("cc.chunk").as("chunk"), col("cc.ch").as("ch"), col("id"), col("fp"))
    // bucket valve — a map-side anti-join against the collected hot
    // set; absent entirely on healthy frames
    val cold =
      if (hotBuckets.isEmpty) banded
      else banded.join(broadcast(hotBuckets.toDF("chunk", "ch")),
        Seq("chunk", "ch"), "left_anti")
    // Pair generation stays a bucket self-join (NOT collect_list +
    // local pair-gen like minhashCandidates): simhash chunk buckets are
    // hot by construction — k+1 chunks of 64/(k+1) bits each give few
    // distinct bucket values, and a clustered corpus concentrates
    // thousands of rows in one bucket (measured 3184/5000 docs at
    // sf0.1, 17.5M raw pairs). A join spreads that quadratic work
    // across tasks; a per-bucket local generator serializes it into one
    // task (measured 23s vs 5s).
    //
    // Dedup across chunks costs NO shuffle: chunk membership is
    // derivable from the two fingerprints, so each qualifying pair is
    // kept only where it first agrees — the chunk-c bucket with
    // c == min{c' : chunks agree at c'} — replacing the previous
    // full-output distinct() with a codegen'd filter. Under the valve
    // this is exactly the "first agreeing chunk must survive" rule: a
    // dropped first-chunk bucket emits nothing, and later agreeing
    // chunks fail the filter.
    val xor = col("fp_a").bitwiseXOR(col("fp_b"))
    val firstEqualChunk = (0 until chunks).foldRight(lit(-1): Column) { (c, els) =>
      when(call_function("shiftrightunsigned", xor, lit(c * bitsPer))
        .bitwiseAND(lit(mask)) === 0L, lit(c)).otherwise(els)
    }
    val l = cold.select(col("chunk"), col("ch"), col("id").as("id_a"), col("fp").as("fp_a"))
    val rj = cold.select(col("chunk"), col("ch"), col("id").as("id_b"), col("fp").as("fp_b"))
    val pairs = l.join(rj, Seq("chunk", "ch"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(xor))
      // hamming first (cheap kill), then exactly-once emission
      .filter(col("hamming") <= maxHamming)
      .filter(firstEqualChunk === col("chunk"))
      .select(col("id_a"), col("id_b"), col("hamming"))
    star.fold(pairs)(pairs.unionByName)
  }

  /** Per-bucket population of the pigeonhole banding over `(id, fp)` —
    * `(chunk, ch, n)`, largest first. The observability surface for
    * [[simhashPairs]]/[[simhashCrossPairs]]' `maxBucket` valve: buckets
    * with `n > maxBucket` are the ones the valve drops.
    */
  def hammingBucketStats(fp: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val mask = (1L << bitsPer) - 1
    fp.select(
      explode(transform(sequence(lit(0), lit(chunks - 1)), c =>
        struct(c.as("chunk"),
          call_function("shiftrightunsigned", col("fp"), c * lit(bitsPer))
            .bitwiseAND(lit(mask)).as("ch")))).as("cc"))
      .groupBy(col("cc.chunk").as("chunk"), col("cc.ch").as("ch"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("chunk"), col("ch"))
  }

  /** Collapse equal fingerprints to their min-id representative —
    * `(id, fp)` with one row per distinct fingerprint. EXACT for
    * existence-style consumers (streaming admission's "did the probe
    * match ANYTHING prior": a probe matches the representative iff it
    * matches any member, because equal fingerprints have equal hamming
    * to everything). Apply to the PRIOR side of [[simhashCrossPairs]]
    * so a mass-duplicated corpus fingerprint (10M silent clips sharing
    * one energy hash) costs one banded row instead of a 10M-row hot
    * bucket.
    */
  def collapseIdentityFps(fp: DataFrame): DataFrame =
    fp.groupBy(col("fp")).agg(min(col("id")).as("id"))
      .select(col("id"), col("fp"))

  /** BIPARTITE pigeonhole-banded hamming join: probe `(id, fp)` rows
    * against a PRIOR fingerprint frame `(id, fp)` — the two-frame
    * sibling of [[simhashPairs]] for incremental admission (a
    * micro-batch probing the corpus + ledger) and any
    * probe-versus-reference matching. Same machinery: fingerprints
    * within `maxHamming` must share one of `maxHamming + 1` equal
    * 64/(k+1)-bit chunks (exact, never all-pairs), each qualifying
    * pair emitted exactly once via the first-agreeing-chunk filter (a
    * codegen'd filter, no distinct shuffle). Emits `(id_a, id_b,
    * hamming)` with `id_a` from `probe`, `id_b` from `prior` — no
    * `id_a < id_b` constraint (the frames are different populations;
    * self-pairs are the caller's semantics to exclude if the frames
    * overlap). The scale shape is the [[simhashPairs]] one: the join
    * spreads hot chunk buckets across tasks, bounded by probe band
    * rows × prior bucket size.
    *
    * BUCKET VALVE (`maxBucket`, the [[simhashPairs]] flood guard): a
    * (chunk, ch) bucket holding more than `maxBucket` rows on EITHER
    * side is dropped from BOTH before the join, and the exactly-once
    * rule stays deterministic — a pair is emitted iff the bucket of
    * its first agreeing chunk survived on both sides. Identity floods
    * on the prior side (10M silent clips sharing one energy hash) are
    * the caller's move: pre-collapse with [[collapseIdentityFps]] —
    * exact for existence-style admission — before probing. Pass
    * `Int.MaxValue` to disable the valve.
    */
  def simhashCrossPairs(
      probe: DataFrame,
      prior: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 2000): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be positive")
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    val spark = probe.sparkSession
    import spark.implicits._
    // with the valve on, each side feeds both the census probe and the
    // join — cache so a fingerprint decode / ledger-union groupBy runs
    // once per side, not twice (callers release via Caches.release());
    // valve off = one consumer each, no cache
    def sideOf(df: DataFrame): DataFrame = {
      val p = df.select(col("id"), col("fp"))
      if (maxBucket == Int.MaxValue) p else graft.ops.Caches.owned(p)
    }
    val pb = sideOf(probe)
    val pr = sideOf(prior)
    def banded(fp: DataFrame): DataFrame = fp.select(
      col("id"), col("fp"),
      explode(transform(sequence(lit(0), lit(chunks - 1)), c =>
        struct(c.as("chunk"),
          call_function("shiftrightunsigned", col("fp"), c * lit(bitsPer))
            .bitwiseAND(lit(mask)).as("ch")))).as("cc"))
      .select(col("cc.chunk").as("chunk"), col("cc.ch").as("ch"),
        col("id"), col("fp"))
    val xor = col("fp_a").bitwiseXOR(col("fp_b"))
    val firstEqualChunk = (0 until chunks).foldRight(lit(-1): Column) { (c, els) =>
      when(call_function("shiftrightunsigned", xor, lit(c * bitsPer))
        .bitwiseAND(lit(mask)) === 0L, lit(c)).otherwise(els)
    }
    val bl = banded(pb)
    val br = banded(pr)
    // one shared hot set (either side oversized drops the bucket from
    // both) keeps the first-agreeing-chunk rule symmetric and
    // SQL-replicable. Collected in ONE bounded single-aggregate probe
    // job (the simhashPairs round-18 shape: ≤ chunks·rows/maxBucket
    // rows per side; both sides union with a side tag so per-side
    // counts ride one groupBy) and re-applied as a local-relation
    // map-side anti-join — empty on healthy frames, where the join
    // below is the exact unguarded banding.
    val sharedHot: Seq[(Int, Long)] =
      if (maxBucket == Int.MaxValue) Nil
      else {
        val chunkKeys = (0 until chunks).map(c =>
          struct(lit(c).as("c"),
            call_function("shiftrightunsigned", col("fp"), lit(c * bitsPer))
              .bitwiseAND(lit(mask)).as("v")))
        pb.select(col("fp"), lit(0).as("_s"))
          .unionByName(pr.select(col("fp"), lit(1).as("_s")))
          .select(col("_s"), explode(array(chunkKeys: _*)).as("kk"))
          .groupBy(col("kk.c").as("c"), col("kk.v").as("v"))
          .agg(sum(when(col("_s") === 0, 1L).otherwise(0L)).as("_nl"),
            sum(when(col("_s") === 1, 1L).otherwise(0L)).as("_nr"))
          .filter(col("_nl") > maxBucket || col("_nr") > maxBucket)
          .select(col("c"), col("v")).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSeq
      }
    val (coldL, coldR) =
      if (sharedHot.isEmpty) (bl, br)
      else {
        val hotDf = broadcast(sharedHot.toDF("chunk", "ch"))
        (bl.join(hotDf, Seq("chunk", "ch"), "left_anti"),
          br.join(hotDf, Seq("chunk", "ch"), "left_anti"))
      }
    val l = coldL
      .select(col("chunk"), col("ch"), col("id").as("id_a"), col("fp").as("fp_a"))
    val rj = coldR
      .select(col("chunk"), col("ch"), col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(rj, Seq("chunk", "ch"))
      .withColumn("hamming", bit_count(xor))
      .filter(col("hamming") <= maxHamming)
      .filter(firstEqualChunk === col("chunk"))
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over near-dup pairs: min-label propagation
    * with POINTER COMPRESSION to a fixed point. The standard Spark
    * pattern for transitive dup closure without GraphX — near-dup pairs
    * (A,B),(B,C) must collapse to ONE surviving doc, which pairwise
    * dedup alone misses.
    *
    * Two details make it hold beyond toy graphs:
    *   - each round follows neighbor-min with a label(label) hop (path
    *     halving), so rounds scale with log(diameter) — plain neighbor
    *     propagation needs diameter-many rounds (a 2000-node chain would
    *     need 2000);
    *   - each round's label frame is localCheckpoint'd, truncating the
    *     logical-plan lineage that otherwise grows by one join tree per
    *     round (measured: driver heap exhaustion by round ~15 at sf0.1).
    *
    * `reliable = true` swaps localCheckpoint for reliable `checkpoint()`
    * (requires `sparkContext.setCheckpointDir`): localCheckpoint blocks
    * live on executors, so on a real cluster one lost executor
    * invalidates a round mid-iteration; reliable checkpoints persist to
    * the checkpoint dir (HDFS/object store) and survive executor loss —
    * the right mode for long multi-round runs at 100 TB.
    *
    * SMALL-GRAPH FINISH: when the (deduplicated) edge set fits a
    * bounded driver budget (`driverFinishEdges`, default 2M edges ≈
    * tens of MB), the component labels come from a single-pass driver
    * union-find instead of the iterative loop. This is the standard
    * "contract, then finish centrally" ending of production CC
    * pipelines: the iterative tail is LATENCY-bound, not data-bound —
    * each round is a fixed ~0.5 s of job/shuffle overhead regardless of
    * edge count (measured 11 rounds = 9 s for a 920-edge graph), while
    * the driver finish is O(E α(E)) on data that provably fits in one
    * task's worth of memory. At 100 TB the near-dup edge set usually
    * does NOT fit (billions of edges) and the distributed loop runs —
    * but real graphs contract fast, so each round ALSO probes the
    * contracted component graph (distinct cross-component label pairs)
    * and hands off mid-iteration the moment it fits the budget, cutting
    * the latency tail of the fixed point. The bound is an explicit
    * argument (0 disables both driver paths and the per-round probe);
    * the distributed loop stays the default scale path and both paths
    * are gate-checked against the same recursive-CTE oracle.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 50,
      reliable: Boolean = false,
      driverFinishEdges: Long = 2000000L): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // localCheckpoint pins its materialized blocks in the block manager
    // until the RDD is GC'd — over many rounds (and repeated calls in
    // one session) stale label frames accumulate and evict useful
    // blocks, so each round explicitly unpersists the previous round's
    // blocks once the new frame is materialized. Tracked by diffing
    // persistent-RDD ids around the checkpoint call (the only public
    // handle: Dataset.localCheckpoint doesn't expose its backing RDD).
    def cpTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = if (reliable) df.checkpoint() else df.localCheckpoint()
      (out, sc.getPersistentRDDs.keySet.diff(before).toSet)
    }
    def unpersist(ids: Set[Int]): Unit =
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    val (edges, _) = cpTracked(pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"))))
      // reused every round; lineage cut at the source

    // bounded-size probe on the checkpointed frame (one cheap job):
    // limit(n+1).count() never scans past the budget, so a huge edge
    // set costs one truncated pass, not a full count
    // driver finish only for integral id types: the union-find keys on
    // longs, and casting e.g. md5-hex string ids to long yields NULLs
    // (-> one bogus all-zero component) or lossy round-trips. Non-long
    // ids stay on the distributed loop, which is type-agnostic.
    val integralIds = pairs.schema(pairs.schema.fieldIndex("id_a")).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (driverFinishEdges > 0 && integralIds) {
      val probeCap = math.min(driverFinishEdges, Int.MaxValue - 1L).toInt
      val nEdges = edges.limit(probeCap + 1).count()
      // compare against the PROBED bound: with driverFinishEdges above
      // the collectable range the truncated count could undercount and
      // wave through an edge set the driver cannot hold
      if (nEdges <= probeCap) return driverUnionFind(pairs, edges)
    }
    var (labels, labelIds) = cpTracked(edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id")))
    // Convergence: for INTEGRAL ids, Σlabel is min-monotone per node and
    // strictly decreases until the fixed point — one tiny aggregation.
    // The fast path is integral-only on purpose: the Decimal(38,0) cast
    // ROUNDS fractional labels, so a sub-integer label decrease
    // (2.6 → 2.4) could leave the rounded sum unchanged and fake
    // convergence before the fixed point. Fractional-numeric and string
    // ids take the exact changed-row probe instead: an id-co-partitioned
    // join with limit(1) early-exit.
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
    def anyChanged(next: DataFrame, prev: DataFrame): Boolean =
      next.alias("n")
        .join(prev.alias("p"), col("n.id") === col("p.id"))
        .filter(col("n.label") =!= col("p.label"))
        .limit(1).count() > 0
    var prevSum = if (integralIds) labelSum(labels) else null
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // 1) neighbor min: each node takes min(own, min of neighbors)
      val nbr = edges
        .join(labels.select(col("id").as("id_b"), col("label").as("nbr_label")), Seq("id_b"))
        .groupBy(col("id_a").as("id"))
        .agg(min(col("nbr_label")).as("nbr_min"))
      val merged = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // 2) path halving: label := label(label) — collapses chains
      //    exponentially instead of one hop per round
      val mapping = merged.select(col("id").as("m_id"), col("label").as("m_label"))
      val (next, nextIds) = cpTracked(merged
        .join(mapping, merged("label") === mapping("m_id"), "left")
        .select(merged("id"),
          least(merged("label"), coalesce(col("m_label"), merged("label"))).as("label")))
      // labels are min-monotone per node, so Σlabel strictly decreases
      // until the fixed point — convergence is one tiny aggregation over
      // the just-checkpointed frame (numeric ids), or an exact
      // changed-row probe (non-numeric)
      if (integralIds) {
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      } else {
        converged = !anyChanged(next, labels)
      }
      // MID-ITERATION HANDOFF (the scaladoc's "contract, then finish
      // centrally" ending): the distinct contracted component graph —
      // (label_a, label_b) pairs over current labels, self-loops
      // dropped — only shrinks as components merge, while each further
      // distributed round costs fixed job/shuffle latency. Once the
      // contracted graph fits the driver budget, finish it with the
      // same union-find as the small-graph path and compose the root
      // mapping onto the current labels (labels always lie inside
      // their component, so the component min over labels IS the
      // component min over ids). Probe cost is the contracted-graph
      // build (two label joins + distinct) — paid every second round,
      // not every round, since on graphs that never fit the budget the
      // probe is pure overhead; the frame is checkpointed so the
      // driver finish COLLECTS the already-materialized blocks instead
      // of re-running the joins.
      // Set driverFinishEdges = 0 to disable for pure-distributed runs.
      if (!converged && driverFinishEdges > 0 && integralIds &&
          (it + 1) % 2 == 0) {
        val la = next.select(col("id").as("id_a"), col("label").as("_graft_la"))
        val lb = next.select(col("id").as("id_b"), col("label").as("_graft_lb"))
        val (contracted, cIds) = cpTracked(
          edges.join(la, Seq("id_a")).join(lb, Seq("id_b"))
            .filter(col("_graft_la") =!= col("_graft_lb"))
            .select(col("_graft_la").as("id_a"), col("_graft_lb").as("id_b"))
            .distinct())
        val probeCap = math.min(driverFinishEdges, Int.MaxValue - 1L).toInt
        val frontier = contracted.limit(probeCap + 1).count()
        if (frontier <= probeCap) {
          // contracted carries both orientations already (edges is
          // symmetric and label pairs mirror), so id_a covers every
          // label-node — the shape driverUnionFind requires
          val roots = driverUnionFind(pairs, contracted)
            .select(col("id").as("label"), col("label").as("_graft_root"))
          // driverUnionFind collected eagerly — contracted blocks done
          unpersist(cIds)
          val composed = next.join(broadcast(roots), Seq("label"), "left")
            .select(col("id"),
              coalesce(col("_graft_root"), col("label")).as("label"))
          unpersist(labelIds)
          return composed
        }
        unpersist(cIds)
      }
      unpersist(labelIds) // previous round's blocks: no longer reachable
      labels = next
      labelIds = nextIds
      it += 1
    }
    labels
  }

  /** Single-pass driver union-find over a bounded edge set (the
    * small-graph finish of [[clusters]]): path-halving find + union by
    * rank, then one remap pass assigning every node the MIN member id
    * of its component — identical semantics to the distributed loop.
    * `edges` is the symmetrized frame (both orientations), so its
    * `id_a` column alone covers every node that appears in `pairs`.
    */
  private def driverUnionFind(pairs: DataFrame, edges: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema(pairs.schema.fieldIndex("id_a")).dataType
    val rows = edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect()
    val parent = new java.util.HashMap[Long, Long]()
    val rank = new java.util.HashMap[Long, Int]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) {
        val p = parent.get(r)
        parent.put(r, parent.get(p)) // path halving
        r = parent.get(r)
      }
      r
    }
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) { parent.put(x, x); rank.put(x, 0) }
    rows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (hi, lo) =
          if (rank.get(ra) >= rank.get(rb)) (ra, rb) else (rb, ra)
        parent.put(lo, hi)
        if (rank.get(hi) == rank.get(lo)) rank.put(hi, rank.get(hi) + 1)
      }
    }
    // min member per component root, then node -> component min
    val minOfRoot = new java.util.HashMap[Long, Long]()
    val nodes = parent.keySet().toArray(Array.empty[java.lang.Long])
    nodes.foreach { n =>
      val r = find(n)
      val cur = minOfRoot.getOrDefault(r, Long.MaxValue)
      if (n < cur) minOfRoot.put(r, n.longValue())
    }
    val out = nodes.map(n => (n.longValue(), minOfRoot.get(find(n))))
    import spark.implicits._
    out.toSeq.toDF("id", "label")
      .select(col("id").cast(idType).as("id"), col("label").cast(idType).as("label"))
  }

  /** Cluster-aware survivors: every doc keeps its row unless it belongs
    * to a near-dup cluster and is not the cluster's min-id member.
    */
  def nearDupSurvivors(
      df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = clusters(pairs)
      .filter(col("id") =!= col("label")) // min-id member IS the label
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-ranked cluster survivors: keep each near-dup cluster's
    * BEST member — rank by the caller's `quality` expression DESC with
    * id ASC as the deterministic tiebreak — plus every unpaired doc.
    * This is what production curation actually wants ([[nearDupSurvivors]]
    * is the quality-blind min-id special case): among near-duplicate
    * crawl snapshots, keep the longest / highest-scoring one, not the
    * one with the smallest id.
    *
    * Scale shape: [[clusters]] on the edge set, one broadcast-scale join
    * of the labels onto the (cluster-member) docs, one window rank per
    * cluster, an anti-join of the losers — cluster volume, not corpus
    * volume, everywhere past the clustering itself.
    */
  def nearDupSurvivorsBy(
      df: DataFrame, pairs: DataFrame, idCol: String,
      quality: org.apache.spark.sql.Column): DataFrame = {
    val (idT, labT, rnT) = ("_graft_sv_id", "_graft_sv_label", "_graft_sv_rn")
    require(!df.columns.exists(_.startsWith("_graft_sv_")),
      "input already has _graft_sv_* columns — rename them first")
    val labels = clusters(pairs)
      .select(col("id").as(idT), col("label").as(labT))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(labT))
      .orderBy(quality.desc, graft.ops.Cleanse.colRef(idCol).asc)
    val losers = df.join(labels, graft.ops.Cleanse.colRef(idCol) === col(idT))
      .withColumn(rnT, row_number().over(w))
      .filter(col(rnT) > 1)
      .select(col(idT).as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** n-gram Jaccard near-dups: word-ngram sets compared exactly over
    * MinHash candidates (LSH does the blocking; word-grams do the
    * verification — the catch-crawl-dup recipe).
    */
  def ngramJaccardNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      n: Int = 3): DataFrame = {
    val cand = graft.ops.Caches.owned(minhashCandidates(df, textCol, idCol))
    val ids = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    // both pair-side joins read it — cache to run the n-gram pass once
    val ng = graft.ops.Caches.owned(df.select(
      col(idCol).as("id"),
      HashExpressions.ngramHashSet(tokens(col(textCol)), n).as("ng"))
      .join(ids, Seq("id"), "left_semi"))
    cand
      .join(ng.select(col("id").as("id_a"), col("ng").as("ng_a")), Seq("id_a"))
      .join(ng.select(col("id").as("id_b"), col("ng").as("ng_b")), Seq("id_b"))
      .withColumn("jaccard", HashExpressions.sortedLongJaccard(col("ng_a"), col("ng_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
