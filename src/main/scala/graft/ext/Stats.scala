package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Statistical modeling operators beyond the moment/percentile family in
  * SetWindowOps: group-wise OLS regression, robust (median/MAD) outlier
  * detection, and the 2-D Pareto skyline.
  *
  * Determinism discipline is the repo standard (correlation_by_group,
  * standardize_by_group): every sum is exact integer/decimal arithmetic,
  * and the unavoidable float math is ONE expression of identical textual
  * shape on both engines.
  */
object Stats {

  /** Per-group simple OLS fit y = slope·x + intercept via exact integer
    * cross-moments; slope/intercept emerge from single mirrored float
    * expressions over the exact sums. Second moments accumulate as
    * DECIMAL(38,0) — Σ(price_cents²) already flirts with Long.Max at
    * sf0.1 (see correlation_by_group's note).
    */
  def regressionByGroup(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val m = df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * x).cast("decimal(38,0)")).as("sxx"),
        sum((x * y).cast("decimal(38,0)")).as("sxy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val slopeRaw = (nD * col("sxy").cast("double") - sxD * syD) /
      (nD * col("sxx").cast("double") - sxD * sxD)
    m.select(col("grp"), col("n"),
      round(slopeRaw, 6).as("slope"),
      round((syD - slopeRaw * sxD) / nD, 6).as("intercept"))
  }

  /** Robust per-group outliers: |x − median| > k·MAD. Median and MAD are
    * EXACT interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, both the R-7 definition); on integer inputs the
    * interpolated values are exact binary fractions (halves/quarters), so
    * the comparison is engine-deterministic despite the double type.
    *
    * 100 TB shape: two passes over the data, each a map-side-combining
    * aggregate on the group key; the group-stat tables are
    * group-count-sized and broadcast back. Exact percentile holds a
    * per-group value-count map — fine for bounded integer domains like
    * cents; swap in approx_percentile for unbounded ones.
    */
  def outliersMad(df: DataFrame, group: Column, x: Column, k: Int,
                  keep: Seq[Column]): DataFrame = {
    val base = df.select((keep :+ group.as("grp") :+ x.as("pc")): _*)
    val med = base.groupBy(col("grp"))
      .agg(percentile(col("pc"), lit(0.5)).as("med"))
    val withMed = base.join(broadcast(med), "grp")
    val mad = withMed.groupBy(col("grp"))
      .agg(percentile(abs(col("pc").cast("double") - col("med")), lit(0.5)).as("mad"))
    withMed.join(broadcast(mad), "grp")
      .where(abs(col("pc").cast("double") - col("med")) > lit(k) * col("mad"))
  }

  /** 2-D Pareto skyline (minimize both dimensions): the points no other
    * point dominates (≤ in both, < in at least one).
    *
    * Two-phase staircase, no single-partition stage: one shuffle reduces
    * to min(y) per distinct x (the only candidate per x); a row then
    * survives iff the exclusive running min of y over ascending x stays
    * above its own y. The running min over the x-level table is computed
    * the `Offsets.globalPosition` way — range-shuffle by x, a
    * per-PARTITION running-min window (partition-parallel), and the
    * cluster-width per-partition minima broadcast back as exclusive
    * prefix minima. The stamped frame is persisted before branching so
    * both readers see one partition layout (AQE may coalesce the
    * exchange differently per reader).
    */
  def skyline2d(pts: DataFrame, xCol: String, yCol: String): DataFrame =
    skyline2dStamped(pts, xCol, yCol)._1

  /** [[skyline2d]] plus the unpersist thunk for the stamped internal
    * frame (plain form leaves it to `spark.catalog.clearCache()`).
    */
  def skyline2dStamped(pts: DataFrame, xCol: String, yCol: String): (DataFrame, () => Unit) = {
    val g = pts.groupBy(col(xCol)).agg(min(col(yCol)).as("_my"))
    val stamped = g.repartitionByRange(col(xCol)).sortWithinPartitions(col(xCol))
      .withColumn("_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val localRun = Window.partitionBy(col("_pid")).orderBy(col(xCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val partMins = stamped.groupBy(col("_pid")).agg(min(col("_my")).as("_pmin"))
    val prefixW = Window.orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)
    val prefix = partMins.withColumn("_before", min(col("_pmin")).over(prefixW))
      .select(col("_pid"), col("_before"))
    val result = stamped
      .join(broadcast(prefix), "_pid")
      .withColumn("_run", least(min(col("_my")).over(localRun), col("_before")))
      .where(col("_run").isNull || col("_run") > col("_my"))
      .select(col(xCol), col("_my").as(yCol))
    (result, () => { stamped.unpersist(); () })
  }

  /** Equi-depth (equal-frequency) discretization: bin a numeric column
    * into `bins` buckets holding ≈ equal row counts, emitting per-bin
    * (bin, n, lo, hi). The B−1 boundaries are EXACT interpolated
    * percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`, the
    * established percentile_agg equivalence); bin assignment counts
    * strict boundary exceedances via a codegen'd higher-order
    * `aggregate` over the broadcast boundary array — so ties on a
    * boundary all land in the lower bin, deterministically, on both
    * engines.
    *
    * 100 TB shape: one exact-percentile aggregate (swap in
    * approx_percentile for unbounded domains — same note as
    * outliersMad), the 1-row boundary table broadcast back, then one
    * map-side-combining aggregate on the bin id. Never a global sort —
    * the ntile formulation this replaces would window over one
    * partition.
    */
  def equiDepthBins(df: DataFrame, x: Column, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val ps = (1 until bins).map(i => lit(i.toDouble / bins))
    val bnds = df.select(x.as("pc"))
      .agg(percentile(col("pc"), array(ps: _*)).as("bnds"))
    df.select(x.as("pc")).crossJoin(broadcast(bnds))
      .select(col("pc"),
        aggregate(col("bnds"), lit(0),
          (acc, b) => acc + when(col("pc").cast("double") > b, 1).otherwise(0)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("pc")).as("lo"), max(col("pc")).as("hi"))
  }

  /** Chi-square test of independence over a two-way contingency table —
    * the categorical-association screen (is market segment independent
    * of nation?). Emits ONE ROW PER CELL with the exact observed count,
    * both margins, the grand total, and the cell's χ² contribution as
    * `(O·T − R·C)²·10⁶ div (T·R·C)` — algebraically (O−E)²/E scaled by
    * 10⁶ (multiply through by T²/T²), kept EXACT by squaring in
    * decimal(38,0): the squared numerator tops 2e19 at gate scale
    * already, past int64. No float ever aggregates (a float Σ over
    * cells would be addition-order-dependent across engines); the
    * consumer sums the integer contributions for the statistic.
    * Shape: one keyed aggregate + three broadcast margin joins —
    * margins are |segments| + |nations| + 1 rows at any scale.
    */
  def chi2Independence(customer: DataFrame): DataFrame = {
    val cells = customer
      .groupBy(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"))
      .agg(count(lit(1)).as("o_cnt"))
    val rowsM = cells.groupBy(col("seg")).agg(sum(col("o_cnt")).as("row_n"))
    val colsM = cells.groupBy(col("nat")).agg(sum(col("o_cnt")).as("col_n"))
    val tot = cells.agg(sum(col("o_cnt")).as("total_n"))
    cells.join(broadcast(rowsM), "seg").join(broadcast(colsM), "nat")
      .crossJoin(broadcast(tot))
      .select(col("seg"), col("nat"), col("o_cnt"), col("row_n"),
        col("col_n"), col("total_n"),
        // every product rides decimal(38,0) BEFORE multiplying: at
        // sf100-class counts (T≈1.5e7, R≈3e6, C≈6e5) both o_cnt·total_n
        // inside the difference and the denominator T·R·C (~2.7e19) pass
        // 2⁶³ — a bigint product would silently wrap in non-ANSI Spark
        // while DuckDB raises, defeating the oracle gate at exactly the
        // scale this screen targets. `div` (IntegralDivide) accepts
        // decimal operands and returns BIGINT, keeping the output schema
        // decimal-free.
        expr("""(CAST(o_cnt AS DECIMAL(38,0)) * total_n
                 - CAST(row_n AS DECIMAL(38,0)) * col_n)
               * (CAST(o_cnt AS DECIMAL(38,0)) * total_n
                 - CAST(row_n AS DECIMAL(38,0)) * col_n)
               * 1000000
               div (CAST(total_n AS DECIMAL(38,0)) * row_n * col_n)""")
          .as("contrib_x1e6"))
  }

  /** Cramér's V — the [0,1] effect-size normalization of the χ²
    * screen: V = √(χ² / (N·(min(r,c)−1))). Everything aggregates as
    * exact integers (the cell contributions above); only the final
    * scalar is ONE mirrored float expression (√ and ÷ are
    * IEEE-correctly-rounded, the correlation_by_group discipline),
    * rounded to 6 dp on both engines. One more 1-row reduction over
    * the cell table — no new shuffle of data.
    */
  def cramersV(customer: DataFrame): DataFrame = {
    chi2Independence(customer)
      .agg(count_distinct(col("seg")).as("r_dim"),
        count_distinct(col("nat")).as("c_dim"),
        max(col("total_n")).as("total_n"), // constant across cells
        sum(col("contrib_x1e6")).as("chi2_x1e6"))
      .select(col("r_dim"), col("c_dim"), col("total_n"), col("chi2_x1e6"),
        round(sqrt(col("chi2_x1e6").cast("double") / lit(1000000.0) /
          (col("total_n").cast("double") *
            (least(col("r_dim"), col("c_dim")) - lit(1)).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** One-way ANOVA F over k groups as STAGED integer rationals (the
    * welch_ttest discipline): with per-group counts n_g, sums T_g and
    * square-sums Q_g of an integer measure,
    *
    *   SSB = Σ T_g²/n_g − T²/n      SSW = Σ Q_g − Σ T_g²/n_g
    *   F   = (SSB/(k−1)) / (SSW/(n−k))
    *
    * Each T_g²/n_g is ONE truncating `div` (pinned, both engines), so
    * `ssb_stage`/`ssw_stage` are deterministic integers within k of the
    * true sums, and `f_x1e6` is one more pinned rational over them —
    * bias bounded by k/SSW, far below any decision threshold. Squares
    * ride decimal(38,0) (T_g² passes 2⁶³ once a group's cents sum
    * clears 3e9 — a few 10⁷ purchase rows). A within-variance of zero
    * or a single group pins NULL on both engines.
    *
    * 100 TB shape: one map-side-combined aggregate keyed by the group
    * column, then arithmetic on the k-row frame — the fact table is
    * scanned once and only (g, n, T, Q) triples cross the shuffle.
    *
    * Split as stage + finisher below so the streaming face can reuse
    * both under the identical oracle.
    */
  /** The per-group moment stage of [[anovaFOneway]] — a plain
    * (count, sum, sum-of-squares) keyed aggregate, which is also legal
    * inside a complete-mode STREAMING aggregation (the calibration
    * binned/finish split): `streaming_anova_f` runs this incrementally
    * and applies [[anovaFinish]] per emission.
    */
  def anovaGroupStats(data: DataFrame, group: Column, valueCol: Column): DataFrame =
    data.select(group.as("g"), valueCol.cast("long").as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("t_g"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q_g"))

  /** The k-row finisher over [[anovaGroupStats]] output. */
  def anovaFinish(byG: DataFrame): DataFrame = {
    byG.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("t_g")).as("t_all"), sum(col("q_g")).as("q_all"),
        sum(expr("CAST(t_g AS DECIMAL(38,0)) * t_g div n_g")).as("sb_stage"))
      .withColumn("_ssb", expr(
        "sb_stage - CAST(t_all AS DECIMAL(38,0)) * t_all div n"))
      .withColumn("_ssw", expr("q_all - sb_stage"))
      .select(col("k"), col("n"),
        expr("CAST(_ssb AS BIGINT)").as("ssb_stage"),
        expr("CAST(_ssw AS BIGINT)").as("ssw_stage"),
        expr("""CASE WHEN _ssw <= 0 OR k <= 1 THEN CAST(NULL AS BIGINT)
               ELSE CAST(CAST(_ssb AS DECIMAL(38,0)) * (n - k) * 1000000
                 div (CAST(_ssw AS DECIMAL(38,0)) * (k - 1)) AS BIGINT) END""")
          .as("f_x1e6"))
  }

  def anovaFOneway(data: DataFrame, group: Column, valueCol: Column): DataFrame =
    anovaFinish(anovaGroupStats(data, group, valueCol))

  val queries: Map[String, Q] = Map(
    // does mean event value differ across the five event types?
    // (staged-integer one-way F over value cents keyed by event_type)
    "anova_f_oneway" -> ((s, dir) =>
      anovaFOneway(Tables.events(s, dir), col("event_type"),
        round(col("value") * 100).cast("long"))),

    "chi2_independence" -> ((s, dir) =>
      chi2Independence(Tables.customer(s, dir))),

    "cramers_v" -> ((s, dir) =>
      cramersV(Tables.customer(s, dir))),

    // price_cents on qty_cents per returnflag — 3 fitted lines
    "regression_by_group" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      regressionByGroup(li, col("l_returnflag"),
          round(col("l_quantity") * 100).cast("long"),
          round(col("l_extendedprice") * 100).cast("long"))
        .withColumnRenamed("grp", "l_returnflag")
    }),

    // per-event-type robust outliers on value_cents, k = 3
    "outlier_mad" -> ((s, dir) =>
      outliersMad(Tables.events(s, dir), col("event_type"),
          round(col("value") * 100).cast("long"), k = 3,
          keep = Seq(col("event_id")))
        .select(col("grp").as("event_type"), col("event_id"),
          col("pc").as("value_cents"), col("med"), col("mad"))),

    // ten equal-frequency price bands over lineitem cents
    "equidepth_bins" -> ((s, dir) =>
      equiDepthBins(Tables.lineitem(s, dir),
        round(col("l_extendedprice") * 100).cast("long"), bins = 10)),

    // Per-user Gini impurity (×1e6) of the event-type mix — the
    // RATIONAL diversity measure (1 − Σpᵢ², vs entropy's transcendental
    // log): gini_x1e6 = 1e6·(n² − Σnᵢ²) div n² needs exactly ONE
    // integer division, so the whole diversity profile is hash-exact.
    // Two keyed aggregates sharing the user partitioning; nᵢ ≤ n ≤ the
    // per-user event count, so n²·1e6 < 2⁶³ holds to ~3e6 events/user.
    "gini_impurity_by_user" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("ni"))
      counts.groupBy(col("user_id"))
        .agg(sum(col("ni")).as("n"),
          sum(col("ni") * col("ni")).as("sq"),
          count(lit(1)).as("n_types"))
        .select(col("user_id"), col("n"), col("n_types"),
          expr("1000000L * (n * n - sq) div (n * n)").as("gini_x1e6"))
    }),

    // 80/20 contribution analysis: revenue-ranked brand shares with
    // integer cumulative-share math — the head flag is the DIVISION-
    // FREE cross-multiplication cum·5 ≤ total·4, the share a single
    // div. The ranked window runs over BRAND-cardinality rows (25), a
    // constant-bounded single partition (the histogram-bin
    // discipline); everything data-sized is the one join + aggregate.
    "contribution_pareto" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("p_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          "p_partkey")
        .groupBy(col("p_brand")).agg(sum(col("cents")).as("cents"))
      val tot = rev.agg(sum(col("cents")).as("t"))
      val wCum = Window.orderBy(col("cents").desc, col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum", sum(col("cents")).over(wCum))
        .crossJoin(broadcast(tot)) // 1-row scalar
        .select(col("p_brand"), col("cents"), col("cum"),
          expr("cum * 1000000L div t").as("cum_share_x1e6"),
          (col("cum") * 5 <= col("t") * 4).as("in_pareto_head"))
    }),

    // "top 5 + Other" reporting rollup: keep the 5 highest-revenue
    // brands by (revenue desc, brand) rank, collapse the tail into one
    // 'Other' row — the fixed-width report shape dashboards want. Rank
    // runs over brand-cardinality rows; the re-aggregate is 25 rows.
    "topk_others_rollup" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("p_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          "p_partkey")
        .groupBy(col("p_brand")).agg(sum(col("cents")).as("cents"))
      val w = Window.orderBy(col("cents").desc, col("p_brand"))
      rev.withColumn("rk", row_number().over(w))
        .select(when(col("rk") <= 5, col("p_brand")).otherwise(lit("Other"))
          .as("brand_group"), col("cents"))
        .groupBy(col("brand_group"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_brands"))
    }),

    // cheapest-and-smallest part frontier
    "skyline_pareto" -> ((s, dir) =>
      skyline2d(
        Tables.part(s, dir).select(
          round(col("p_retailprice") * 100).cast("long").as("price_cents"),
          col("p_size").cast("long").as("p_size")),
        "price_cents", "p_size"))
  )

  val oracleSql: Map[String, String] = Map(
    "anova_f_oneway" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |byg AS (
        |  SELECT g, count(*) AS n_g, CAST(sum(x) AS BIGINT) AS t_g,
        |    sum(CAST(x AS HUGEINT) * x) AS q_g
        |  FROM v GROUP BY g),
        |tot AS (
        |  SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(t_g) AS BIGINT) AS t_all, sum(q_g) AS q_all,
        |    sum(CAST(t_g AS HUGEINT) * t_g // n_g) AS sb_stage
        |  FROM byg),
        |st AS (
        |  SELECT k, n,
        |    sb_stage - CAST(t_all AS HUGEINT) * t_all // n AS ssb,
        |    q_all - sb_stage AS ssw
        |  FROM tot)
        |SELECT k, n, CAST(ssb AS BIGINT) AS ssb_stage,
        |  CAST(ssw AS BIGINT) AS ssw_stage,
        |  CASE WHEN ssw <= 0 OR k <= 1 THEN NULL
        |  ELSE CAST(ssb * (n - k) * 1000000 // (ssw * (k - 1)) AS BIGINT)
        |  END AS f_x1e6
        |FROM st""".stripMargin,

    "chi2_independence" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
        |    count(*) AS o_cnt
        |  FROM customer GROUP BY 1, 2),
        |r AS (SELECT seg, CAST(sum(o_cnt) AS BIGINT) AS row_n
        |      FROM cells GROUP BY seg),
        |c AS (SELECT nat, CAST(sum(o_cnt) AS BIGINT) AS col_n
        |      FROM cells GROUP BY nat),
        |t AS (SELECT CAST(sum(o_cnt) AS BIGINT) AS total_n FROM cells)
        |SELECT seg, nat, o_cnt, row_n, col_n, total_n,
        |  CAST((CAST(o_cnt AS HUGEINT)*total_n - CAST(row_n AS HUGEINT)*col_n)
        |     * (CAST(o_cnt AS HUGEINT)*total_n - CAST(row_n AS HUGEINT)*col_n)
        |     * 1000000 // (CAST(total_n AS HUGEINT)*row_n*col_n) AS BIGINT) AS contrib_x1e6
        |FROM cells JOIN r USING (seg) JOIN c USING (nat) CROSS JOIN t""".stripMargin,

    "cramers_v" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
        |    count(*) AS o_cnt
        |  FROM customer GROUP BY 1, 2),
        |r AS (SELECT seg, CAST(sum(o_cnt) AS BIGINT) AS row_n
        |      FROM cells GROUP BY seg),
        |c AS (SELECT nat, CAST(sum(o_cnt) AS BIGINT) AS col_n
        |      FROM cells GROUP BY nat),
        |t AS (SELECT CAST(sum(o_cnt) AS BIGINT) AS total_n FROM cells),
        |contrib AS (
        |  SELECT seg, nat, total_n,
        |    CAST((CAST(o_cnt AS HUGEINT)*total_n - CAST(row_n AS HUGEINT)*col_n)
        |       * (CAST(o_cnt AS HUGEINT)*total_n - CAST(row_n AS HUGEINT)*col_n)
        |       * 1000000 // (CAST(total_n AS HUGEINT)*row_n*col_n) AS BIGINT)
        |      AS contrib_x1e6
        |  FROM cells JOIN r USING (seg) JOIN c USING (nat) CROSS JOIN t),
        |agg AS (
        |  SELECT CAST(count(DISTINCT seg) AS BIGINT) AS r_dim,
        |    CAST(count(DISTINCT nat) AS BIGINT) AS c_dim,
        |    max(total_n) AS total_n,
        |    CAST(sum(contrib_x1e6) AS BIGINT) AS chi2_x1e6
        |  FROM contrib)
        |SELECT r_dim, c_dim, total_n, chi2_x1e6,
        |  round(sqrt(CAST(chi2_x1e6 AS DOUBLE) / 1000000.0 /
        |    (CAST(total_n AS DOUBLE) *
        |      CAST(least(r_dim, c_dim) - 1 AS DOUBLE))), 6) AS cramers_v
        |FROM agg""".stripMargin,

    "regression_by_group" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
        |    CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy
        |  FROM c GROUP BY l_returnflag),
        |s AS (
        |  SELECT l_returnflag, n, sx, sy,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_raw
        |  FROM m)
        |SELECT l_returnflag, n, round(slope_raw, 6) AS slope,
        |  round((CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE)) /
        |    CAST(n AS DOUBLE), 6) AS intercept
        |FROM s""".stripMargin,

    "outlier_mad" ->
      """WITH c AS (
        |  SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS value_cents
        |  FROM events),
        |m AS (
        |  SELECT event_type, quantile_cont(value_cents, 0.5) AS med
        |  FROM c GROUP BY event_type),
        |d AS (
        |  SELECT c.event_type, c.event_id, c.value_cents, m.med
        |  FROM c JOIN m ON m.event_type = c.event_type),
        |m2 AS (
        |  SELECT event_type,
        |    quantile_cont(abs(CAST(value_cents AS DOUBLE) - med), 0.5) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, d.event_id, d.value_cents, d.med, m2.mad
        |FROM d JOIN m2 ON m2.event_type = d.event_type
        |WHERE abs(CAST(value_cents AS DOUBLE) - med) > 3 * m2.mad""".stripMargin,

    "equidepth_bins" ->
      """WITH c AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc FROM lineitem),
        |b AS (
        |  SELECT quantile_cont(pc, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds
        |  FROM c)
        |SELECT CAST(len(list_filter(b.bnds, x -> CAST(c.pc AS DOUBLE) > x)) AS INTEGER) AS bin,
        |  count(*) AS n, min(c.pc) AS lo, max(c.pc) AS hi
        |FROM c CROSS JOIN b
        |GROUP BY 1""".stripMargin,

    "topk_others_rollup" ->
      """WITH rev AS (SELECT p.p_brand,
        |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  GROUP BY p.p_brand),
        |r AS (SELECT p_brand, cents,
        |    row_number() OVER (ORDER BY cents DESC, p_brand) AS rk FROM rev)
        |SELECT CASE WHEN rk <= 5 THEN p_brand ELSE 'Other' END AS brand_group,
        |  CAST(sum(cents) AS BIGINT) AS cents, count(*) AS n_brands
        |FROM r GROUP BY 1""".stripMargin,

    "contribution_pareto" ->
      """WITH rev AS (SELECT p.p_brand,
        |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  GROUP BY p.p_brand),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
        |r AS (SELECT p_brand, cents,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, p_brand
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM rev)
        |SELECT p_brand, cents, cum,
        |  CAST((cum * 1000000) // t AS BIGINT) AS cum_share_x1e6,
        |  cum * 5 <= t * 4 AS in_pareto_head
        |FROM r, tot""".stripMargin,

    "gini_impurity_by_user" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS ni
        |           FROM events GROUP BY user_id, event_type),
        |a AS (SELECT user_id, CAST(sum(ni) AS BIGINT) AS n,
        |        CAST(sum(ni * ni) AS BIGINT) AS sq,
        |        count(*) AS n_types
        |      FROM c GROUP BY user_id)
        |SELECT user_id, n, n_types,
        |  CAST((1000000 * (n * n - sq)) // (n * n) AS BIGINT) AS gini_x1e6
        |FROM a""".stripMargin,

    "skyline_pareto" ->
      """WITH pts AS (
        |  SELECT DISTINCT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |    CAST(p_size AS BIGINT) AS p_size
        |  FROM part)
        |SELECT price_cents, p_size FROM pts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts b
        |  WHERE b.price_cents <= a.price_cents AND b.p_size <= a.p_size
        |    AND (b.price_cents < a.price_cents OR b.p_size < a.p_size))""".stripMargin
  )
}
