package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the dedup/similarity operators —
  * chosen over UDFs per the preference order (compose built-ins > custom
  * Expression > custom plan > mapPartitions): a MinHash signature needs
  * `numPerms` hash evaluations per shingle, which as built-ins would be
  * `numPerms` separate array traversals and as a UDF would break codegen
  * and pay serialization. One expression computes the whole signature in
  * a single pass over the shingle array.
  *
  * All hashing uses Spark's own Murmur3_x86_32 (public `unsafe` util —
  * the same primitive behind `functions.hash`), with the standard
  * `h_i(x) = a_i * h(x) + b_i mod p` family of universal permutations
  * (MMDS ch.3 construction).
  */
object HashExpressions {

  private[plans] val MersennePrime = (1L << 61) - 1

  /** Deterministic per-permutation coefficients (splitmix64 over the
    * permutation index — fixed seed, reproducible across runs/sessions).
    */
  private[plans] def coeffs(numPerms: Int): (Array[Long], Array[Long]) = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    val a = new Array[Long](numPerms)
    val b = new Array[Long](numPerms)
    var i = 0
    while (i < numPerms) {
      a(i) = (splitmix(i.toLong * 2 + 1).abs % (MersennePrime - 1)) + 1
      b(i) = splitmix(i.toLong * 2 + 2).abs % MersennePrime
      i += 1
    }
    (a, b)
  }

  private[plans] def baseHash(s: UTF8String): Long =
    Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, 42) & 0xffffffffL

  /** Evaluate a full MinHash signature in one pass over the shingles. */
  private[plans] def minhash(arr: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = a.length
    val sig = Array.fill[Long](n)(Long.MaxValue)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val h = baseHash(arr.getUTF8String(j))
        var i = 0
        while (i < n) {
          // (a*h + b) mod p via 128-bit-free math: p = 2^61-1 allows
          // mod-mul with Math.multiplyHigh folding.
          val v = mulMod(a(i), h, b(i))
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** (a*h + b) mod (2^61-1), using multiplyHigh to avoid overflow. */
  private[plans] def mulMod(a: Long, h: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    // fold 128-bit value mod 2^61-1: x = hi*2^64 + lo;
    // 2^64 ≡ 8 (mod 2^61-1)
    var r = (lo & MersennePrime) + (lo >>> 61) + hi * 8
    r = (r & MersennePrime) + (r >>> 61)
    r = (r & MersennePrime) + (r >>> 61)
    val s = r + b
    if (s >= MersennePrime) s - MersennePrime else s
  }

  /** 64-bit SimHash over a token array: per-token murmur-derived 64-bit
    * hash votes ±1 on each bit; the fingerprint is the sign vector.
    */
  private[plans] def simhash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val s = arr.getUTF8String(j)
        val h1 = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 42).toLong
        val h2 = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 1042).toLong
        val h = (h1 << 32) | (h2 & 0xffffffffL)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  /** One fused pass for LSH banding: slide a `shingleLen`-byte window
    * over the canonicalized string, murmur-hash each window, maintain all
    * `numPerms` permutation minima, then fold each r-minima band into one
    * band hash. No shingle array is ever materialized, and duplicates
    * need no dedup (min over a multiset == min over its set).
    */
  private[plans] def minhashBands(
      s: UTF8String, shingleLen: Int, a: Array[Long], b: Array[Long],
      bands: Int): ArrayData = {
    val n = a.length
    val sig = Array.fill[Long](n)(Long.MaxValue)
    val bytes = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // sub-shingle-length docs hash as ONE whole-string shingle: left as
    // all-MaxValue sentinels, every short doc would share one signature
    // (= one LSH bucket in every band) and verify at jaccard 1.0 against
    // totally unrelated short docs
    val step = math.min(shingleLen, math.max(bytes, 1))
    var p = 0
    while (p + step <= bytes) {
      val h = Murmur3_x86_32.hashUnsafeBytes(base, off + p, step, 42) & 0xffffffffL
      var i = 0
      while (i < n) {
        val v = mulMod(a(i), h, b(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      p += 1
    }
    val r = n / bands
    val out = new Array[Long](bands)
    var bb = 0
    while (bb < bands) {
      var h = 0x9e3779b97f4a7c15L + bb
      var i = 0
      while (i < r) {
        h ^= sig(bb * r + i)
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
        i += 1
      }
      out(bb) = h ^ (h >>> 31)
      bb += 1
    }
    new GenericArrayData(out)
  }

  /** Sorted distinct murmur hashes of all `n`-byte windows of a string —
    * the hashed shingle set (exact-Jaccard verification works on hash
    * sets; a 2^-32 collision rate is noise next to the similarity
    * threshold). One pass, one long[] sort, no string materialization.
    */
  private[plans] def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.numBytes
    // whole-string shingle for sub-length docs (same rule as
    // minhashBands/minhashFromString): the set is empty ONLY for a truly
    // empty string, so unrelated short docs no longer share the
    // empty-set jaccard of 1.0
    val step = math.min(n, math.max(bytes, 1))
    val count = math.max(bytes - step + 1, 0)
    val hs = new Array[Long](count)
    var p = 0
    while (p < count) {
      hs(p) = Murmur3_x86_32.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset + p, step, 42) & 0xffffffffL
      p += 1
    }
    new GenericArrayData(sortedDistinct(hs))
  }

  /** Sorted distinct hashes of word n-grams (rolling fold over per-token
    * hashes).
    */
  private[plans] def ngramHashes(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    val th = new Array[Long](m)
    var i = 0
    while (i < m) {
      th(i) =
        if (tokens.isNullAt(i)) 0L
        else {
          val t = tokens.getUTF8String(i)
          Murmur3_x86_32.hashUnsafeBytes(
            t.getBaseObject, t.getBaseOffset, t.numBytes, 42) & 0xffffffffL
        }
      i += 1
    }
    // same sub-length rule as the byte shinglers: fewer than n tokens →
    // one n-gram over all of them (empty set only for zero tokens)
    val step = math.min(n, math.max(m, 1))
    val count = math.max(m - step + 1, 0)
    val out = new Array[Long](count)
    var p = 0
    while (p < count) {
      var h = 0x9e3779b97f4a7c15L
      var j = 0
      while (j < step) {
        h ^= th(p + j)
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        j += 1
      }
      out(p) = h ^ (h >>> 31)
      p += 1
    }
    new GenericArrayData(sortedDistinct(out))
  }

  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    if (xs.isEmpty) return xs
    java.util.Arrays.sort(xs)
    var w = 1
    var i = 1
    while (i < xs.length) {
      if (xs(i) != xs(w - 1)) { xs(w) = xs(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, w)
  }

  /** Exact Jaccard of two SORTED distinct long arrays via linear merge.
    * Both empty → 1.0 (two empty sets are identical).
    */
  private[plans] def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Full signature from the canonical string in one fused pass (same
    * values as MinHashSignature over materialized shingles: min over a
    * multiset equals min over its set, and both hash the same bytes with
    * the same seed).
    */
  private[plans] def minhashFromString(
      s: UTF8String, shingleLen: Int, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = a.length
    val sig = Array.fill[Long](n)(Long.MaxValue)
    val bytes = s.numBytes
    // whole-string shingle for sub-length docs (see minhashBands)
    val step = math.min(shingleLen, math.max(bytes, 1))
    var p = 0
    while (p + step <= bytes) {
      val h = Murmur3_x86_32.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset + p, step, 42) & 0xffffffffL
      var i = 0
      while (i < n) {
        val v = mulMod(a(i), h, b(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      p += 1
    }
    new GenericArrayData(sig)
  }

  def minhashSignature(shingles: Column, numPerms: Int = 64): Column =
    ExprColumn(MinHashSignature(ExprColumn.exprOf(shingles), numPerms))

  def minhashSignatureOfText(
      canonical: Column, shingleLen: Int = 5, numPerms: Int = 64): Column =
    ExprColumn(MinHashSignatureStr(ExprColumn.exprOf(canonical), shingleLen, numPerms))

  def shingleHashSet(canonical: Column, shingleLen: Int = 5): Column =
    ExprColumn(ShingleHashes(ExprColumn.exprOf(canonical), shingleLen))

  def ngramHashSet(tokens: Column, n: Int = 3): Column =
    ExprColumn(NgramHashes(ExprColumn.exprOf(tokens), n))

  def sortedLongJaccard(a: Column, b: Column): Column =
    ExprColumn(SortedLongJaccard(ExprColumn.exprOf(a), ExprColumn.exprOf(b)))

  /** Bucket → weight under a bounded driver-side model map; 0.0 on miss
    * (one hash probe — see [[WeightLookup]]).
    */
  def weightOf(bucket: Column, weights: Map[String, Double]): Column =
    ExprColumn(WeightLookup(ExprColumn.exprOf(bucket), weights))

  private[plans] def weightLookupEval(
      k: UTF8String,
      m: java.util.HashMap[UTF8String, java.lang.Double]): Double = {
    val v = m.get(k)
    if (v == null) 0.0 else v.doubleValue()
  }

  /** Inputs are cast to array<double> (exact for float arrays — the same
    * per-element widening the zip_with formulation performed) so the
    * fused loops read the right physical type for ANY numeric array.
    */
  def dotProduct(a: Column, b: Column): Column =
    ExprColumn(DotProduct(
      ExprColumn.exprOf(a.cast("array<double>")),
      ExprColumn.exprOf(b.cast("array<double>"))))

  def srpSignature64(vec: Column, bits: Int): Column =
    ExprColumn(SrpSig(ExprColumn.exprOf(vec.cast("array<double>")), bits))

  /** Sequential left-to-right double accumulation — the SAME fold order
    * as `aggregate(zip_with(...))` and DuckDB's list_sum(list_transform),
    * so results stay bit-identical to the oracle.
    */
  private[plans] def dotEval(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    // fail fast on dimension mismatch: silent min-length truncation
    // yields wrong similarities (dot over k components, norms over all)
    // with no diagnostic
    require(n == b.numElements(),
      s"dot product dimension mismatch: $n vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** All SRP sign bits in one pass: bit i's hyperplane component j is
    * sign(splitmix64(i*131071 + j)) — the same planes the driver-side
    * query-signature computation uses (Similarity.planes).
    */
  private[plans] def srpEval(vec: ArrayData, bits: Int): Long = {
    val dim = vec.numElements()
    val acc = new Array[Double](bits)
    var j = 0
    while (j < dim) {
      val x = vec.getDouble(j)
      var i = 0
      while (i < bits) {
        if (splitmixSign(i.toLong * 131071 + j)) acc(i) += x else acc(i) -= x
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      if (acc(i) >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  private def splitmixSign(x0: Long): Boolean = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    (x ^ (x >>> 31)) >= 0
  }

  def srpSignatures(vec: Column, bits: Int, tables: Int): Column =
    ExprColumn(SrpSigMulti(ExprColumn.exprOf(vec.cast("array<double>")), bits, tables))

  /** All `tables` SRP signatures in ONE pass over the vector: table t's
    * bit i uses hyperplane index (t*bits + i), so table 0 equals the
    * single-table [[srpEval]] signature with the same `bits`.
    */
  private[plans] def srpMultiEval(vec: ArrayData, bits: Int, tables: Int): ArrayData = {
    val total = bits * tables
    val acc = new Array[Double](total)
    val dim = vec.numElements()
    var j = 0
    while (j < dim) {
      val x = vec.getDouble(j)
      var i = 0
      while (i < total) {
        if (splitmixSign(i.toLong * 131071 + j)) acc(i) += x else acc(i) -= x
        i += 1
      }
      j += 1
    }
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var i = 0
      while (i < bits) {
        if (acc(t * bits + i) >= 0) sig |= (1L << i)
        i += 1
      }
      sigs(t) = sig
      t += 1
    }
    new GenericArrayData(sigs)
  }

  def minhashBandHashes(
      canonical: Column, shingleLen: Int = 5, numPerms: Int = 64,
      bands: Int = 8): Column =
    ExprColumn(MinHashBands(ExprColumn.exprOf(canonical), shingleLen, numPerms, bands))

  def simHash64OfText(text: Column): Column =
    ExprColumn(SimHash64Str(ExprColumn.exprOf(text)))

  /** SimHash directly from raw text: lowercase once, scan bytes for
    * [a-z0-9'] word runs (UTF-8 multibyte units have the high bit set,
    * so they delimit exactly like the regex's non-word chars), hash each
    * run's bytes — identical votes to SimHash64 over materialized
    * tokens, with no array in between.
    */
  private[plans] def simhashText(s: UTF8String): Long = {
    val lower = s.toLowerCase
    val bytes = lower.getBytes // materialized once; tight byte scan
    val votes = new Array[Int](64)
    var i = 0
    val n = bytes.length
    while (i <= n) {
      var j = i
      while (j < n && isWordByte(bytes(j))) j += 1
      if (j > i) {
        val h1 = Murmur3_x86_32.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + i, j - i, 42).toLong
        val h2 = Murmur3_x86_32.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + i, j - i, 1042).toLong
        val h = (h1 << 32) | (h2 & 0xffffffffL)
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
          k += 1
        }
        i = j
      }
      i += 1
    }
    var fp = 0L
    var k = 0
    while (k < 64) {
      if (votes(k) > 0) fp |= (1L << k)
      k += 1
    }
    fp
  }

  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '\''

  def stopwordHits(tokens: Column, sets: Seq[Seq[String]]): Column =
    ExprColumn(StopwordHits(ExprColumn.exprOf(tokens), sets))

  def hashedNgramEmbedding(canonical: Column, dim: Int = 256, n: Int = 3): Column =
    ExprColumn(TextEmbed(ExprColumn.exprOf(canonical), dim, n))

  /** Deterministic hashed char-n-gram embedding of the canonical string:
    * slide an `n`-byte window one byte at a time (sub-length strings use
    * one whole-string gram, the [[minhashFromString]] convention), hash
    * each window into one of `dim` buckets (murmur seed 42) with a ±1
    * sign from an independent hash (seed 1042) — the signed
    * feature-hashing projection of the COUNT profile (Weinberger et al.
    * 2009: sign hashing makes collision noise zero-mean, so inner
    * products are preserved in expectation) — then L2-normalize to a
    * unit float vector. Zero-gram text (empty canonical) embeds as the
    * zero vector, which [[graft.operators.Similarity.semDeDup]] and the
    * cosine family already treat as "similar to nothing" (cosine
    * defined 0), keeping degenerate-doc semantics consistent across the
    * engine. Identical texts embed identically by construction.
    */
  private[plans] def embedText(s: UTF8String, dim: Int, n: Int): ArrayData = {
    val acc = new Array[Double](dim)
    val bytes = s.getBytes
    val len = bytes.length
    val step = math.min(n, math.max(len, 1))
    var p = 0
    while (p + step <= len) {
      val off = Platform.BYTE_ARRAY_OFFSET + p
      val h = Murmur3_x86_32.hashUnsafeBytes(bytes, off, step, 42)
      val b = java.lang.Math.floorMod(h, dim)
      val sign =
        if ((Murmur3_x86_32.hashUnsafeBytes(bytes, off, step, 1042) & 1) == 0) 1.0
        else -1.0
      acc(b) += sign
      p += 1
    }
    var ss = 0.0
    var i = 0
    while (i < dim) { ss += acc(i) * acc(i); i += 1 }
    val inv = if (ss == 0.0) 0.0 else 1.0 / math.sqrt(ss)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = (acc(i) * inv).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  def nearestCentroid(vec: Column, cents: Array[Array[Double]]): Column =
    ExprColumn(NearestCentroid(ExprColumn.exprOf(vec.cast("array<double>")), cents))

  /** Argmin over squared L2 distances to a literal centroid table — one
    * fused loop per row. Left-to-right double accumulation and strict-<
    * first-minimum, matching the aggregate(zip_with)/array_position(
    * array_min) formulation it replaces bit-for-bit.
    */
  private[plans] def nearestCentroidEval(
      vec: ArrayData, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(vec.numElements(), c.length)
      var d = 0.0
      var j = 0
      while (j < n) { val t = vec.getDouble(j) - c(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Per-language membership counts in one pass (hash-set lookups). */
  private[plans] def stopwordHitsEval(
      tokens: ArrayData, sets: Array[java.util.HashSet[UTF8String]]): ArrayData = {
    val hits = new Array[Int](sets.length)
    var i = 0
    while (i < tokens.numElements()) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        var l = 0
        while (l < sets.length) {
          if (sets(l).contains(t)) hits(l) += 1
          l += 1
        }
      }
      i += 1
    }
    new GenericArrayData(hits.map(_.toLong))
  }
}

/** Stopword-hit counts for N word sets in ONE pass over the token array
  * with hash-set membership — the `size(filter(tokens, array_contains))`
  * formulation rescans the token array per language with a LINEAR probe
  * per token (measured 10× the tokenizer's own cost for 5 languages × 10
  * words).
  */
/** Constant-time weight lookup for the GD trainers/scorers: bucket
  * string → its weight under a model-sized driver map, 0.0 on miss (the
  * left-join-with-coalesce contract as one expression). A literal-map
  * `element_at` is a LINEAR key scan per row (Catalyst's GetMapValue) —
  * at the classifier's 16^3-bucket space that is a 4096-probe loop per
  * feature row per iteration; this is one hash probe.
  */
case class WeightLookup(child: Expression, weights: Map[String, Double])
  extends UnaryExpression {

  @transient private lazy val compiled
      : java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double](
      math.max(8, weights.size * 2))
    weights.foreach { case (k, v) =>
      m.put(UTF8String.fromString(k), java.lang.Double.valueOf(v))
    }
    m
  }

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"WeightLookup expects a string bucket, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    HashExpressions.weightLookupEval(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val mapRef = ctx.addReferenceObj("weightMap", compiled, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.weightLookupEval($c, $mapRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): WeightLookup =
    copy(child = newChild)
}

case class StopwordHits(child: Expression, sets: Seq[Seq[String]])
  extends UnaryExpression {

  @transient private lazy val compiled: Array[java.util.HashSet[UTF8String]] =
    sets.map { ws =>
      val s = new java.util.HashSet[UTF8String](ws.length * 2)
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashExpressions.stopwordHitsEval(input.asInstanceOf[ArrayData], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val setsRef = ctx.addReferenceObj("stopwordSets", compiled,
      "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.stopwordHitsEval($c, $setsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordHits =
    copy(child = newChild)
}

/** Hashed char-n-gram text embedding: string → unit array<float> of
  * `dim` (see [[HashExpressions.embedText]]) — the in-engine
  * text→dense-vector path that lets the semantic family (semDeDup,
  * semanticDecontaminate, ANN) compose from raw text without an
  * external model.
  */
case class TextEmbed(child: Expression, dim: Int, n: Int)
  extends UnaryExpression {

  require(dim > 0, "embedding dim must be positive")
  require(n > 0, "gram length must be positive")

  // manual type check (the BloomMightContain posture — ExpectsInputTypes'
  // AbstractDataType is private[sql] in Spark 4): a non-string child
  // must fail at analysis time, not as a codegen ClassCastException
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string child, got ${child.dataType.catalogString}")
  override def prettyName: String = "graft_text_embed"

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashExpressions.embedText(input.asInstanceOf[UTF8String], dim, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.embedText($c, $dim, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): TextEmbed =
    copy(child = newChild)
}

/** Nearest-centroid assignment: array<double> → int cluster index over a
  * literal centroid table (the IVF assignment hot path — a higher-order
  * transform/aggregate formulation evaluates interpreted lambdas per
  * centroid per row, measured ~4× slower at sf0.1).
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
  extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    HashExpressions.nearestCentroidEval(input.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val centsRef = ctx.addReferenceObj("ivfCentroids", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.nearestCentroidEval($c, $centsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** MinHash signature: array<string> shingles → array<long> of length
  * `numPerms`. Whole-signature in one pass; codegen via static helper
  * call (the loop body is branch-heavy, so generated code just invokes
  * the same JVM helper — still inside WholeStageCodegen, no fallback to
  * interpreted projection).
  */
case class MinHashSignature(child: Expression, numPerms: Int)
  extends UnaryExpression {

  @transient private lazy val (a, b) = HashExpressions.coeffs(numPerms)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashExpressions.minhash(input.asInstanceOf[ArrayData], a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val coeffsA = ctx.addReferenceObj("minhashA", a, "long[]")
    val coeffsB = ctx.addReferenceObj("minhashB", b, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.minhash($c, $coeffsA, $coeffsB);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Fused shingle→minhash signature: string → array<long> of numPerms —
  * same values as MinHashSignature over a materialized shingle array,
  * ~50× cheaper (no substring/array materialization).
  */
case class MinHashSignatureStr(child: Expression, shingleLen: Int, numPerms: Int)
  extends UnaryExpression {

  @transient private lazy val (a, b) = HashExpressions.coeffs(numPerms)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashExpressions.minhashFromString(
      input.asInstanceOf[UTF8String], shingleLen, a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val coeffsA = ctx.addReferenceObj("mhsA", a, "long[]")
    val coeffsB = ctx.addReferenceObj("mhsB", b, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.minhashFromString($c, $shingleLen, $coeffsA, $coeffsB);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureStr =
    copy(child = newChild)
}

/** Fused shingle→minhash→band expression: string → array<long> of
  * `bands` band hashes. The whole LSH key computation is one tight JVM
  * loop per row — no intermediate shingle arrays, no per-band
  * re-evaluation under CollapseProject (callers posexplode the result, so
  * this expression is evaluated exactly once per row).
  */
case class MinHashBands(
    child: Expression, shingleLen: Int, numPerms: Int, bands: Int)
  extends UnaryExpression {

  require(numPerms % bands == 0, "numPerms must divide into bands")

  @transient private lazy val (a, b) = HashExpressions.coeffs(numPerms)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashExpressions.minhashBands(
      input.asInstanceOf[UTF8String], shingleLen, a, b, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val coeffsA = ctx.addReferenceObj("mhbA", a, "long[]")
    val coeffsB = ctx.addReferenceObj("mhbB", b, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.minhashBands($c, $shingleLen, $coeffsA, $coeffsB, $bands);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** Hashed shingle set: string → sorted distinct array<long>. */
case class ShingleHashes(child: Expression, shingleLen: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashExpressions.shingleHashes(input.asInstanceOf[UTF8String], shingleLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.shingleHashes($c, $shingleLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Hashed word-ngram set: array<string> tokens → sorted distinct
  * array<long>.
  */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashExpressions.ngramHashes(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.ngramHashes($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

/** Exact Jaccard of two sorted long arrays (linear merge). */
case class SortedLongJaccard(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    HashExpressions.sortedJaccard(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $clz.sortedJaccard($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongJaccard =
    copy(left = newLeft, right = newRight)
}

/** Sequential-double dot product of two float arrays (oracle-identical
  * fold order, fused JVM loop).
  */
case class DotProduct(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    HashExpressions.dotEval(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $clz.dotEval($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Multi-table SRP signatures: array<double> → array<long> of `tables`
  * packed sign-bit signatures, one fused pass.
  */
case class SrpSigMulti(child: Expression, bits: Int, tables: Int)
  extends UnaryExpression {

  require(bits > 0 && bits <= 64 && tables > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashExpressions.srpMultiEval(input.asInstanceOf[ArrayData], bits, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $clz.srpMultiEval($c, $bits, $tables);")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSigMulti =
    copy(child = newChild)
}

/** One-pass sign-random-projection signature: array<float> → long. */
case class SrpSig(child: Expression, bits: Int) extends UnaryExpression {

  require(bits > 0 && bits <= 64)

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HashExpressions.srpEval(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.srpEval($c, $bits);")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSig =
    copy(child = newChild)
}

/** SimHash-64 straight from text (fused tokenize+hash). */
case class SimHash64Str(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HashExpressions.simhashText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.simhashText($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64Str =
    copy(child = newChild)
}

/** SimHash-64 fingerprint: array<string> tokens → long. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HashExpressions.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = HashExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.simhash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
