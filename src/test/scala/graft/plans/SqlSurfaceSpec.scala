package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.MinHashAgg
import graft.operators.Skew

class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions are callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
           graft_simhash(array('a','b','c')) AS sh,
           graft_jaccard(array(1L,2L,3L), array(2L,3L,4L)) AS j,
           size(graft_minhash_bands('hello world hello world', 5, 64, 8)) AS nb,
           size(graft_shingle_hashes('abcdefgh', 5)) AS ns
      """).collect()(0)
    assert(r.getLong(0) != 0L)
    assert(math.abs(r.getDouble(1) - 0.5) < 1e-12) // |{2,3}| / |{1,2,3,4}|
    assert(r.getInt(2) == 8)
    assert(r.getInt(3) == 4)
  }

  test("vector + fused-text functions are callable from SQL (float arrays widened)") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
           graft_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
                     array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d,
           graft_srp(array(1.0D, -2.0D, 3.0D), 8) AS s1,
           element_at(graft_srp_multi(array(1.0D, -2.0D, 3.0D), 8, 4), 1) AS s2,
           graft_simhash_text('Hello World hello') AS sht,
           size(graft_minhash_text('hello world hello world', 5, 64)) AS nmh
      """).collect()(0)
    assert(r.getDouble(0) == 4.0) // 1.5*2 + 2*0.5
    assert(r.getLong(1) == r.getLong(2)) // table 0 == single-table signature
    assert(r.getLong(3) != 0L)
    assert(r.getInt(4) == 64)
  }

  test("graft_normalize_text is callable from SQL and matches the Column API") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT graft_normalize_text('  Crème\tBRÛLÉE  ') AS n").collect()(0).getString(0)
    assert(got == "creme brulee")
    val df = Seq("  Über  dîner ").toDF("t")
    df.createOrReplaceTempView("sql_norm_t")
    assert(spark.sql("SELECT graft_normalize_text(t) FROM sql_norm_t")
      .collect()(0).getString(0) ==
      df.select(NormalizeTextExpr(col("t"))).collect()(0).getString(0))
  }

  test("SQL results agree with the Column API") {
    GraftFunctions.register(spark)
    val df = Seq("the quick brown fox").toDF("t")
    df.createOrReplaceTempView("sql_surface_t")
    val viaSql = spark.sql(
      "SELECT graft_simhash(filter(split(lower(t), '[^a-z0-9\\']+'), x -> length(x) > 0)) FROM sql_surface_t")
      .collect()(0).getLong(0)
    val viaCol = df.select(
      graft.operators.Dedup.simhashFingerprint(col("t"))).collect()(0).getLong(0)
    assert(viaSql == viaCol)
  }

  test("Engine.attach registers the SQL surface on an existing session") {
    graft.Engine.attach(spark)
    val n = spark.sql("SELECT size(graft_minhash_bands('abcdefgh hij')) AS n")
      .collect()(0).getInt(0)
    assert(n == 8)
  }

  test("GraftExtensions injects the same builders") {
    // The injection plumbing: apply() must register every builder
    // without throwing (full end-to-end config injection needs a fresh
    // session, which the shared-session harness doesn't allow).
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
  }

  test("GraftExtensions-injected functions evaluate like the session's") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
    val injected = org.apache.spark.sql.ExtensionsAccess.functions(e)
    def eval(name: String, args: Expression*): Any =
      injected.lookupFunction(FunctionIdentifier(name), args).eval()
    def size(v: Any): Int = v.asInstanceOf[ArrayData].numElements()
    def arr(xs: Any*): Expression = CreateArray(xs.map(Literal(_)))

    val got = Seq[Any](
      eval("graft_simhash", arr("alpha", "beta")),
      size(eval("graft_minhash", arr("abcde", "bcdef"))),
      size(eval("graft_minhash_bands", Literal("the quick brown fox jumps"))),
      size(eval("graft_shingle_hashes", Literal("abcdefgh"))),
      size(eval("graft_ngram_hashes", arr("a", "b", "c", "d"), Literal(2))),
      eval("graft_jaccard", arr(1L, 2L, 3L, 4L), arr(3L, 4L, 5L, 6L)))
    assert(got(1) == 64 && got(2) == 8)
    assert(got(5) == 2.0 / 6.0)

    GraftFunctions.register(spark)
    val viaSession = spark.sql(
      """SELECT
           graft_simhash(array('alpha','beta')),
           size(graft_minhash(array('abcde','bcdef'))),
           size(graft_minhash_bands('the quick brown fox jumps')),
           size(graft_shingle_hashes('abcdefgh')),
           size(graft_ngram_hashes(array('a','b','c','d'), 2)),
           graft_jaccard(array(1L,2L,3L,4L), array(3L,4L,5L,6L))
      """).collect()(0).toSeq
    assert(got == viaSession)
  }

  test("MinHashAgg.sigUnion: union signature = elementwise min") {
    val docs = Seq(
      (1, "the quick brown fox jumps over the lazy dog"),
      (1, "a completely different sentence about query engines"),
      (2, "the quick brown fox jumps over the lazy dog"))
      .toDF("grp", "text")
    val sigs = docs.select(
      col("grp"),
      graft.operators.Dedup.minhashSignature(col("text")).as("sig"))
    val unions = sigs.groupBy(col("grp"))
      .agg(MinHashAgg.sigUnion(col("sig")).as("u"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val raw = sigs.collect().map(r => (r.getInt(0), r.getSeq[Long](1)))
    val expected1 = raw.filter(_._1 == 1).map(_._2)
      .reduce((a, b) => a.zip(b).map { case (x, y) => math.min(x, y) })
    assert(unions(1) == expected1)
    assert(unions(2) == raw.filter(_._1 == 2).head._2) // singleton group
  }

  test("saltedJoin equals the plain join") {
    val big = (1 to 1000).map(i => (if (i % 2 == 0) "hot" else s"k$i", i))
      .toDF("key", "v") // 'hot' carries half the rows
    val small = Seq(("hot", 100), ("k1", 1), ("k3", 3)).toDF("key", "w")
    val plain = big.join(small, Seq("key"))
      .select("key", "v", "w").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(big, small, "key", salt = 8)
      .select("key", "v", "w").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.size == 502)
  }

  test("keyHistogram surfaces the hot key") {
    val big = (1 to 100).map(i => (if (i % 2 == 0) "hot" else s"k$i", i)).toDF("key", "v")
    val top = Skew.keyHistogram(big, "key", topN = 1).collect()(0)
    assert(top.getString(0) == "hot" && top.getLong(1) == 50)
  }
}
