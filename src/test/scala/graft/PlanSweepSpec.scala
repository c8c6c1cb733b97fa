package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The round-12 plan-fitness SWEEP: PlanSpec pins ~20 named queries;
  * this spec walks EVERY batch registry entry at sf0.001 and asserts
  * two structural properties the 100 TB story rests on:
  *
  *  1. no cross or non-equi join where BOTH sides are unbounded
  *     (a 1-row/bounded side — scalar aggregates, limits, constant
  *     frames — is the sanctioned broadcast-scalar pattern; logical
  *     `maxRows` proves boundedness mechanically);
  *  2. no SinglePartition shuffle whose input is an unbounded
  *     data-sized frame (the benign form — a global aggregate's
  *     partial→final exchange — carries a keys=[] partial aggregate
  *     or a bounded `maxRows` immediately below the exchange).
  *
  * Queries with an ADJUDICATED bounded single-partition stage that
  * `maxRows` cannot see (a value-alphabet window, a variant-count
  * window) are pinned in [[PlanSweepSpec.boundedByArgument]] with the
  * boundedness argument — additions must bring a justification.
  *
  * Streaming faces are excluded mechanically: building them RUNS the
  * stream (their registry value is the completed memory-sink table,
  * whose plan is a LocalTableScan — nothing to sweep); each one
  * shares its batch face's oracle, and the batch face IS swept.
  * Planning runs with AQE off so exchanges are visible to traversal —
  * AQE can only improve on the asserted static shape.
  */
class PlanSweepSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** query → (adjudicated violation kinds, boundedness argument). */
  private val boundedByArgument: Map[String, (Set[String], String)] =
    PlanSweepSpec.boundedByArgument

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def hasEquiKey(j: Join): Boolean = j.condition.exists { cond =>
    conjuncts(cond).exists {
      case EqualTo(l, r) =>
        (l.references.subsetOf(j.left.outputSet) && r.references.subsetOf(j.right.outputSet)) ||
          (l.references.subsetOf(j.right.outputSet) && r.references.subsetOf(j.left.outputSet))
      case EqualNullSafe(l, r) =>
        (l.references.subsetOf(j.left.outputSet) && r.references.subsetOf(j.right.outputSet)) ||
          (l.references.subsetOf(j.right.outputSet) && r.references.subsetOf(j.left.outputSet))
      case _ => false
    }
  }

  /** Strip the wrappers between an exchange and the node that proves
    * (or fails to prove) boundedness.
    */
  @scala.annotation.tailrec
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case pr: ProjectExec => unwrap(pr.child)
    case s: SortExec => unwrap(s.child)
    case f: FilterExec => unwrap(f.child)
    case other => other
  }

  private def boundedLogical(p: SparkPlan): Boolean =
    p.logicalLink.flatMap(_.maxRows).exists(_ <= 1000L)

  /** All structural violations in one query's plans. */
  private def violations(df: DataFrame): Seq[String] = {
    val logical = df.queryExecution.optimizedPlan
    val joinViolations = logical.collect {
      case j: Join if !hasEquiKey(j) &&
        !Seq(j.left, j.right).exists(_.maxRows.exists(_ <= 1000L)) =>
        s"unbounded ${j.joinType} join without equi key: " +
          s"left=${j.left.nodeName} right=${j.right.nodeName}"
    }
    val physical = df.queryExecution.executedPlan
    val exchangeViolations = physical.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        unwrap(e.child) match {
          case a: BaseAggregateExec if a.groupingExpressions.isEmpty => None
          // the two-phase running-min witness of `Stats.skyline2dStamped`,
          // this exemption's only remaining user (Offsets gathers its
          // per-partition summaries outside the plan): an aggregate
          // grouped by the `_pid` partition id is ≤ #partitions rows by
          // construction — the repo-wide partition-summary naming contract
          case a: BaseAggregateExec
            if a.groupingExpressions.exists(_.references.exists(_.name == "_pid")) => None
          // a limit's partial→final collect: LocalLimit(n≤1000) feeds
          // ≤ n·#partitions rows into the exchange by construction —
          // the standard bounded limit pattern, data-size independent
          case l: org.apache.spark.sql.execution.LocalLimitExec if l.limit <= 1000 => None
          case other if boundedLogical(other) || boundedLogical(e.child) => None
          case other =>
            Some(s"SinglePartition exchange over unbounded ${other.nodeName}")
        }
    }.flatten
    joinViolations ++ exchangeViolations
  }

  private def sweep(name: String, df: DataFrame): Seq[String] =
    violations(df).map(v => s"$name: $v")

  test("every batch registry query passes the structural plan sweep") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val names = SparkEntry.queries.keys.toSeq.sorted
        .filterNot(_.startsWith("streaming_"))
      val failures = names.flatMap { name =>
        val found =
          try sweep(name, SparkEntry.queries(name)(spark, sf))
          catch { case e: Throwable => Seq(s"$name: sweep could not plan — $e") }
        spark.catalog.clearCache()
        // an allowlist entry exempts ONLY its adjudicated violation kinds —
        // a new cross join in a query adjudicated for a bounded window
        // (or vice versa) still fails the sweep
        val allowedKinds = boundedByArgument.get(name).map(_._1).getOrElse(Set.empty)
        found.filterNot(v => allowedKinds.exists(k => v.contains(PlanSweepSpec.kindMarker(k))))
      }
      // pinned entries must still EXIST (a stale allowlist is a lie)
      val stale = boundedByArgument.keys.filterNot(SparkEntry.queries.contains)
      assert(stale.isEmpty, s"allowlist entries without a registry query: $stale")
      assert(failures.isEmpty, failures.mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.catalog.clearCache()
    }
  }

  test("the sweep flags seeded violations and passes sanctioned scalars") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.functions._
      val big = spark.range(10000).toDF("a")
      val big2 = spark.range(10000).toDF("b")
      // data × data cross join — must be flagged
      assert(violations(big.crossJoin(big2)).exists(_.contains("without equi key")))
      // data × data theta join — must be flagged
      assert(violations(big.join(big2, col("a") < col("b")))
        .exists(_.contains("without equi key")))
      // data × 1-row scalar — the sanctioned pattern, must pass
      assert(violations(big.crossJoin(big2.agg(count(lit(1)).as("n")))).isEmpty)
      // global aggregate partial→final exchange — benign, must pass
      assert(violations(big.agg(sum(col("a")).as("s"))).isEmpty)
      // unpartitioned window over a data-sized frame — must be flagged
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("a"))
      assert(violations(big.withColumn("rn", row_number().over(w)))
        .exists(_.contains("SinglePartition")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("allowlist exemptions are kind-scoped, not blanket") {
    val joinV = "q: unbounded Cross join without equi key: left=X right=Y"
    val exchV = "q: SinglePartition exchange over unbounded Window"
    val exchangeOnly = Set(PlanSweepSpec.ExchangeKind)
    // an exchange-only adjudication must NOT mask a new join violation
    assert(!exchangeOnly.exists(k => joinV.contains(PlanSweepSpec.kindMarker(k))))
    assert(exchangeOnly.exists(k => exchV.contains(PlanSweepSpec.kindMarker(k))))
    val joinOnly = Set(PlanSweepSpec.JoinKind)
    assert(!joinOnly.exists(k => exchV.contains(PlanSweepSpec.kindMarker(k))))
  }
}

object PlanSweepSpec {
  /** The sweep's two violation classes and the marker substring each
    * emits — an allowlist entry names which class(es) it adjudicates.
    */
  val JoinKind = "join"
  val ExchangeKind = "exchange"
  def kindMarker(kind: String): String = kind match {
    case JoinKind => "without equi key"
    case ExchangeKind => "SinglePartition exchange"
    case other => sys.error(s"unknown violation kind $other")
  }

  /** Adjudicated bounded-by-argument plan stages: frames `maxRows`
    * cannot bound mechanically but whose cardinality is pinned by
    * construction. Every entry names the adjudicated VIOLATION KINDS
    * (only those are exempted — a regression of the other class still
    * fails) and the bound; a new entry requires both.
    */
  val boundedByArgument: Map[String, (Set[String], String)] = {
    val J = Set(JoinKind)
    val X = Set(ExchangeKind)
    val JX = Set(JoinKind, ExchangeKind)
    val annProbePanel = "non-equi score join's small side is the fixed " +
      "query/audit panel (vec_id < 10..100 constant filter); the corpus side " +
      "streams through once — brute force exists only as the labeled recall oracle"
    Map(
      "ann_bruteforce_topk" -> (J, annProbePanel),
      "ann_bq_topk" -> (J, annProbePanel +
        "; the BQ Hamming scan reads the 32x-compressed bit codes"),
      "ann_bq_rerank_recall" -> (J, annProbePanel +
        "; the rerank joins are equi-keyed on (q_id, c_id) over the 20-per-query shortlist"),
      "ann_ivf_recall" -> (J, annProbePanel),
      "ann_ivf_topk" -> (J, annProbePanel + "; the IVF path itself joins on cell id"),
      "ann_ivfpq_recall" -> (J, annProbePanel),
      "ann_kendall_tau" -> (J, annProbePanel),
      "ann_lsh_recall" -> (J, annProbePanel),
      "ann_matryoshka_recall" -> (J, annProbePanel),
      "ann_mrr_check" -> (J, annProbePanel),
      "ann_ndcg_check" -> (J, annProbePanel),
      "ann_pq_recall" -> (J, annProbePanel),
      "embedding_outlier_score" -> (J, annProbePanel),
      "dedup_bq_banded_recall" ->
        (J, "the TRUTH side is the full-pair Hamming sweep — Θ(n²) BY DESIGN, a " +
          "gate-scale exact companion scoring the banded miner's recall (the " +
          "dedup_simhash_recall convention); the production path is the banded " +
          "equi-keyed miner it scores"),
      "knn_graph_mutual" ->
        (J, "both sides of the distance join are the 100-vector audit panel (vec_id < 100)"),
      "multimodal_image_embed_topk" ->
        (J, "feature side is the decoded fixture-image panel (single-digit rows)"),
      "hard_negative_mining" -> (J, annProbePanel),
      "hybrid_rank_fusion" ->
        (JX, "fused lists are k-bounded per query over the fixed query panel; " +
          "rank windows run over those k-bounded lists"),
      "kmv_vocab_overlap" ->
        (J, "cross-compares two k-sized KMV sketch aggregates (k = 256 rows each)"),
      "curriculum_pacing_schedule" ->
        (X, "the cumulative step window runs over the phase MANIFEST — a keyed " +
          "aggregate whose key is the <= 4-value phase fold (aggregate(bnds) over 3 " +
          "thresholds), so the single-partition stage carries at most `phases` rows"),
      "theilsen_trend" ->
        (JX, "pairwise slope frame is the bounded per-day time grid squared; " +
          "median selection runs over that grid-bounded frame"),
      "sample_stratified_exact" ->
        (JX, "quota frame is stratum-alphabet-sized; the BNLJ side is the " +
          "1-row-per-stratum plan; the quota window runs over the stratum alphabet"),
      "lm_zipf_bitlog" ->
        (X, "final rank window runs over the <= floor(log2(V)) bit-log-sampled rows"),
      "vocab_growth_heaps" ->
        (X, "cumulative window runs over the <= floor(log2(D)) first-doc buckets"),
      "vocab_heaps_exponent" ->
        (X, "the vocab_growth_heaps cumulative window (<= floor(log2(D)) bucket " +
          "rows) feeding a 1-row least-squares fold — same bounded stage, one more " +
          "keyless aggregate"),
      "abtest_cuped" ->
        (X, "moment window folds the 2-row per-variant aggregate (variant-count-bounded)"),
      "kruskal_wallis_h" ->
        (X, "midrank window runs over the VALUE-ALPHABET count table (cents alphabet), not the data"),
      "exact_median_selection" ->
        (X, "cumulative window runs over <= 4096 bin counts (constant bins)"),
      "drift_ks_binned" ->
        (X, "KS sweep runs over the fixed equi-width bin alphabet"),
      "lift_gains_deciles" ->
        (X, "decile grid is 10 rows; windows run over the grid"),
      "open_intervals_per_day" ->
        (X, "sweep runs over the DAY alphabet of the event range"),
      "pr_curve_by_threshold" ->
        (X, "curve windows run over the bounded score-threshold alphabet"),
      "enum_library_codes" ->
        (X, "dictionary build windows over the enum value alphabet"),
      "exclusive_prefix_sum" ->
        (X, "the operator's contract: the scan input is a per-key COUNT table " +
          "(group-alphabet-sized); data-sized callers go through globalPosition"),
      "survival_kaplan_meier" ->
        (X, "product-limit window runs over the distinct event-time grid"),
      "survival_logrank" ->
        (X, "risk-set window runs over the distinct event-time grid"),
      "survival_nelson_aalen" ->
        (X, "hazard window runs over the distinct event-time grid"),
      "cumulative_distinct_users" ->
        (X, "running sum over the DAY alphabet (one row per day)"),
      "contribution_pareto" ->
        (X, "cumulative-share window runs over brand cardinality (25 rows)"),
      "mixture_quality_tiers" ->
        (X, "greedy-fill window runs over the TIER aggregate — the vote-count " +
          "alphabet is 0..3, so the single-partition stage carries <= 4 rows " +
          "(the curriculum_pacing_schedule shape; the BNLJ side is the 1-row " +
          "corpus-total aggregate, maxRows-bounded)"),
      "mixture_waterfill_budget" ->
        (X, "water-level rank/cumulative windows run over the SOURCE alphabet " +
          "(k rows — the per-source token-count aggregate), never the corpus"),
      "topk_others_rollup" ->
        (X, "rank window over brand cardinality; re-aggregate is 25 rows"),
      "dq_t_closeness" ->
        (J, "the grid cross join's broadcast side is the balance-BAND value " +
          "alphabet (truncating div by 1000 currency units => ~a dozen bands " +
          "over the schema's acctbal range); the CDF window partitions by the " +
          "quasi-identifier group, carrying <= #bands rows per group")
    )
  }
}
