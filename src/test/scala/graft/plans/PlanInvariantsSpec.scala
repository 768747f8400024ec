package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, ScalaUDF, StringSplit}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, SortMergeJoinExec}

import graft.{SparkEntry, SparkSpec}

/** docs/PLANS.md as executable regression tests: the plan-audit claims
  * that the verdict rounds graded from prose ("dims broadcast, filters
  * pushed, one exchange here, never a cartesian product") are asserted
  * here against the ACTUAL static physical plans, so a refactor that
  * silently degrades a plan — a lost broadcast hint, a filter that stops
  * reaching the parquet scan, an extra shuffle in an audited operator —
  * fails the suite instead of surfacing as a 100 TB incident.
  *
  * All assertions run on `queryExecution.sparkPlan` (the pre-AQE static
  * plan): it is what the cost-based planner commits to independent of
  * runtime statistics, it is cheap (no jobs run), and every property
  * asserted is scale-invariant by construction — broadcasts come from
  * explicit `broadcast()` hints on bounded-size dims (nation/region/
  * 1-row aggregates), pushdown/pruning from the declarative plan shape,
  * and shuffle counts from the operator's fixed stage structure, none of
  * which AQE changes (AQE can only further coalesce/convert at runtime).
  */
class PlanInvariantsSpec extends SparkSpec {

  private def df(name: String): DataFrame = SparkEntry.queries(name)(spark, sf())
  private def plan(name: String): SparkPlan = df(name).queryExecution.sparkPlan

  // Node collection uses `collect` (physical tree only), NOT
  // `collectWithSubqueries`: on a pre-AQE sparkPlan, subquery
  // expressions still carry UNPLANNED logical plans, and a
  // PartialFunction[SparkPlan, _] CCEs on them at the bridge cast.
  // Subquery bodies are covered by the string form in the sweep below.

  /** Shuffle exchanges in the physical plan. */
  private def shuffles(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeExec => e }.size

  /** Formatted explain (scan details: PushedFilters / ReadSchema). */
  private def scanInfo(name: String): String = {
    val qe = df(name).queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  // ---------------------------------------------------------------- sweep

  /** Builds each query's static plan, isolating per-query build/analysis
    * failures instead of letting one unanalyzable query abort a sweep:
    * a broken source must surface as ITS OWN failure (QueriesSmokeSpec
    * builds every query individually), not mask a whole-suite property
    * for the 100+ queries that still analyze. Returns (broken, planned).
    */
  private def builtPlans(
      names: Seq[String]): (Seq[(String, String)], Seq[(String, SparkPlan)]) =
    names.sorted.partitionMap { name =>
      try Right(name -> plan(name))
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(name -> e.toString.linesIterator.next())
      }
    }

  test("no gate query plans a CartesianProduct") {
    // The one O(n^2) operator family (allPairsSimilarity) is size-guarded
    // AND broadcast-hinted, so even it must plan as a broadcast
    // nested-loop join, never an unbounded cartesian shuffle product.
    val (broken, planned) = builtPlans(SparkEntry.queries.keys.toSeq)
    broken.foreach { case (name, err) =>
      info(s"did not analyze (excluded from sweep): $name — $err")
    }
    val offenders = planned.flatMap { case (name, p) =>
      val cart = p.collect { case c: CartesianProductExec => c }
      // string form also reaches subquery bodies (see note above)
      if (cart.nonEmpty || p.toString.contains("CartesianProduct")) Some(name)
      else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
    // the sweep must still be sweeping: a mass build failure is its own bug
    assert(planned.size > SparkEntry.queries.size / 2,
      s"only ${planned.size}/${SparkEntry.queries.size} queries analyzed — " +
        s"broken: ${broken.map(_._1)}")
  }

  // ----------------------------------------------------- pushdown/pruning

  test("q01 pushes the shipdate filter into the parquet scan") {
    val info = scanInfo("q01_pricing_summary")
    assert(info.contains("PushedFilters"), "no scan pushdown section")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(info).isDefined,
      s"l_shipdate not pushed to scan:\n$info")
  }

  test("q01 prunes unused lineitem columns from the scan") {
    val info = scanInfo("q01_pricing_summary")
    // 7 needed columns; the wide ones must not be read.
    assert(!info.contains("l_comment"), "l_comment read but unused")
    assert(!info.contains("l_shipinstruct"), "l_shipinstruct read but unused")
  }

  test("q02 pushes all three range predicates to the scan") {
    val info = scanInfo("q02_revenue_forecast")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(("PushedFilters: \\[[^\\]]*" + c).r.findFirstIn(info).isDefined,
        s"$c not pushed:\n$info"))
  }

  test("events ts-range filters push through the adapter's NTZ normalization") {
    // The events adapter normalizes TIMESTAMP_NTZ → TimestampType with a
    // cast. Catalyst unwraps that cast in comparisons (UTC session tz
    // makes it order-preserving and bijective), so range predicates
    // still reach the parquet scan as bounds on the RAW column — the
    // property that lets a 100 TB events scan prune row groups by time.
    // An adapter change that breaks unwrapping (e.g. a non-bijective
    // expression around ts) would silently turn time-range queries into
    // full scans; this pins it.
    import org.apache.spark.sql.functions._
    val f = graft.queries.Tables.events(spark, sf())
      .filter(col("ts") >= lit("2020-01-01").cast("timestamp") &&
        col("ts") < lit("2021-01-01").cast("timestamp"))
      .select("event_id", "ts")
    val info = f.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq("GreaterThanOrEqual\\(ts", "LessThan\\(ts").foreach(p =>
      assert(("PushedFilters: \\[[^\\]]*" + p).r.findFirstIn(info).isDefined,
        s"ts range bound not pushed to the events scan:\n$info"))
  }

  // ------------------------------------------------------------ broadcast

  test("q04 star join broadcasts both dims (no sort-merge join)") {
    val p = plan("q04_region_customer_stats")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    val smj = p.collect { case j: SortMergeJoinExec => j }
    assert(bhj.size == 2, s"expected 2 broadcast joins, got ${bhj.size}")
    assert(smj.isEmpty, "dim join degraded to sort-merge")
  }

  test("q03 broadcasts the filtered customer dim") {
    val p = plan("q03_top_revenue_orders")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "customer join not broadcast")
  }

  // ---------------------------------------------------------------- top-k

  test("q06 global top-100 is TakeOrderedAndProject, not a full sort") {
    val p = plan("q06_top_orders")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"no TakeOrderedAndProject in:\n$p")
  }

  test("q03 top-10 is TakeOrderedAndProject, not a full sort") {
    val p = plan("q03_top_revenue_orders")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"no TakeOrderedAndProject in:\n$p")
  }

  // ----------------------------------------- audited operator shuffle caps

  // Bounds are the docs/PLANS.md audited shapes plus the oracle-
  // determinism sort; equality would be brittle to harmless re-plans, a
  // cap still catches an accidentally introduced extra exchange.

  test("q01 scan-agg uses exactly one data shuffle (partial agg holds)") {
    // partial HashAggregate -> 1 exchange on the 6 group keys -> final
    // agg; the trailing orderBy adds a range exchange over 6 rows.
    assert(shuffles(plan("q01_pricing_summary")) <= 2)
  }

  test("q05 window uses a single shuffle on custkey") {
    // one hash exchange for the window partition; trailing sort adds one.
    assert(shuffles(plan("q05_top_orders_per_customer")) <= 2)
  }

  test("q30 minhash gate stays within its audited exchange budget") {
    // PLANS.md round-7: posexplode -> ONE hash exchange on (band, bh) ->
    // ObjectHashAggregate -> capped Generate, + the deterministic output
    // sort; pre-shuffle of the source text adds one.
    assert(shuffles(plan("q30_minhash_near_dups")) <= 4)
  }

  test("q136 span-removal gate stays within its audited exchange budget") {
    // static (pre-AQE, pre-ReuseExchange) count: the pinned
    // id-repartition appears once per consuming branch (3), plus the
    // span-hash aggregate, semi-join + coverage distinct, the per-doc
    // rebuild aggregate, and the reinstating joins — runtime folds the
    // repeated repartitions via ReuseExchange (the duplicateSpans
    // posture). A count above this means a branch stopped sharing the
    // pinned exchange shape.
    // (+1 in round 13: the null-id pass-through branch re-reads the
    // source under the final union — projection-only, no runtime
    // shuffle work of its own)
    assert(shuffles(plan("q136_remove_dup_spans")) <= 10)
  }

  test("q137 semDeDup gate stays within its audited exchange budget") {
    // assignment is narrow (broadcast centroids); the budget is the
    // round-13 identity-guard window (ONE vector-keyed exchange, but
    // its subtree is re-derived statically by the x/y self-join sides,
    // repOut, and the copy branch — runtime folds the identical
    // subtrees via ReuseExchange), the cluster-keyed self-join sides,
    // the dropped-id distinct, and the reinstating join
    assert(shuffles(plan("q137_semdedup")) <= 14)
  }

  test("q139 text-embed semDeDup gate stays within the q137 budget") {
    // same operator over engine-produced embeddings — the embedText
    // projection is narrow and must not add exchanges
    assert(shuffles(plan("q139_text_embed_semdedup")) <= 14)
  }

  // ------------------------------------------------------- codegen purity

  test("dedup/text/similarity hot paths contain no ScalaUDF") {
    // The §2.11 claim: extension points are native Catalyst expressions
    // (codegen'd), never opaque UDFs that break whole-stage codegen.
    val hotPaths = Seq(
      "q24_token_stats", "q25_lang_id", "q26_quality_score",
      "q27_fingerprint", "q28_exact_dedup", "q30_minhash_near_dups",
      "q31_simhash_near_dups", "q33_knn_brute", "q51_embedding_pairs_exact",
      "q75_redaction", "q76_repetition", "q113_strip_html")
    val (broken, planned) = builtPlans(hotPaths)
    broken.foreach { case (name, err) =>
      info(s"did not analyze (excluded from sweep): $name — $err")
    }
    val offenders = planned.collect {
      case (name, p) if p.toString.contains("UDF") => name
    }
    assert(offenders.isEmpty, s"ScalaUDF in hot path: $offenders")
    assert(planned.size > hotPaths.size / 2,
      s"only ${planned.size}/${hotPaths.size} hot paths analyzed — " +
        s"broken: ${broken.map(_._1)}")
  }

  test("delimited read plans byte kernels: no regex, no regex split, no ScalaUDF") {
    // the upload scan's blank test, split and per-cell cleanup run as
    // CellExpressions; a regex or UDF here puts the interpreted,
    // allocation-heavy path back on every cell
    val f = java.nio.file.Files.createTempFile("graft_plan", ".csv")
    java.nio.file.Files.writeString(f, "a,b,c\n1, \"x\" ,|y|\n \t\n2,,\n")
    val df = graft.ingest.Readers.read(spark, f.toString)
    assert(df.collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "x", "y"), Seq("2", null, null)))
    val exprs = new AdaptiveSparkPlanHelper {}
      .flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(_.collect { case e => e }))
    val banned = exprs.collect {
      case e @ (_: RegExpReplace | _: StringSplit | _: ScalaUDF) => e.prettyName
    }
    assert(banned.isEmpty, s"regex/UDF in the delimited scan: ${banned.distinct}")
    assert(exprs.exists(_.isInstanceOf[CleanCell]) &&
      exprs.exists(_.isInstanceOf[SplitOnByte]) && exprs.exists(_.isInstanceOf[NotBlank]))
  }
}
