package graft.ext

import graft.{Q, Tables}
import graft.ops.Offsets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RFM (recency / frequency / monetary) customer segmentation — the
  * classic CRM quartile grid, computed exactly.
  *
  * Per customer from `orders`: recency = days between their last order
  * and the corpus's last order day; frequency = order count; monetary =
  * lifetime cents. Each metric is quartiled by EXACT global rank with
  * the deterministic formula `q = (rank0 * 4) div n + 1` over the total
  * order (value, custkey) — not `ntile`, whose remainder placement is
  * engine-convention; this formula is plain integer arithmetic both
  * engines reproduce bit-for-bit.
  *
  * 100 TB shape: the rank is NOT a single-partition window. The three
  * metrics are unpivoted into one (metric, value, custkey) table and
  * ranked with [[Offsets.globalPositionGrouped]] — range repartition
  * by (metric, value, custkey), one job gathering a summary per
  * partition, and a driver walk over those summaries (cluster-width,
  * never data-width); nothing is cached. One extra shuffle; parallelism
  * stays the cluster width at any customer count. The per-metric totals
  * (3 rows) and the global last-day (1 row) ride broadcasts.
  *
  * Output: one row per occupied (r,f,m) cell — `segment` "r-f-m",
  * customer count and summed lifetime cents. ≤ 64 rows.
  */
object Rfm {

  /** Segment grid over `orders(o_custkey, o_orderdate, o_totalprice)`. */
  def segments(orders: DataFrame): DataFrame = {
    val epoch = lit("1992-01-01").cast("date")
    val perCust = orders.groupBy(col("o_custkey").as("c"))
      .agg(max(datediff(col("o_orderdate"), epoch)).as("last_day"),
        count(lit(1)).as("f"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("mon"))
    val lastDayAll = perCust.agg(max(col("last_day")).as("ref_day"))
    val metrics = perCust.crossJoin(broadcast(lastDayAll))
      .withColumn("r", (col("ref_day") - col("last_day")).cast("long"))
      .select(col("c"), col("r"), col("f"), col("mon"))
    val long = metrics.selectExpr(
      "c", "stack(3, 'R', r, 'F', f, 'M', mon) AS (metric, v)")
    val ranked = Offsets.globalPositionGrouped(
      long, "metric", Seq(col("metric"), col("v"), col("c")), "pos", "gpos")
    val totals = ranked.groupBy(col("metric")).agg(count(lit(1)).as("n"))
    val quartiled = ranked.join(broadcast(totals), "metric")
      .withColumn("q", expr("(gpos * 4) div n + 1"))
    val grid = quartiled.groupBy(col("c"))
      .agg(max(when(col("metric") === "R", col("q"))).as("rq"),
        max(when(col("metric") === "F", col("q"))).as("fq"),
        max(when(col("metric") === "M", col("q"))).as("mq"))
      .join(metrics.select(col("c"), col("mon")), "c")
      .groupBy(concat_ws("-", col("rq"), col("fq"), col("mq")).as("segment"))
      .agg(count(lit(1)).as("n_customers"), sum(col("mon")).as("monetary_cents"))
    grid
  }

  val queries: Map[String, Q] = Map(
    "rfm_segments" -> ((s, dir) => segments(Tables.orders(s, dir)))
  )

  val oracleSql: Map[String, String] = Map(
    "rfm_segments" ->
      """WITH per_cust AS (
        |  SELECT o_custkey AS c,
        |    max(CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)) AS last_day,
        |    count(*) AS f,
        |    sum(CAST(round(o_totalprice*100) AS BIGINT)) AS mon
        |  FROM orders GROUP BY o_custkey),
        |m AS (
        |  SELECT c, (SELECT max(last_day) FROM per_cust) - last_day AS r, f, mon
        |  FROM per_cust),
        |u AS (
        |  SELECT c, 'R' AS metric, r AS v FROM m
        |  UNION ALL SELECT c, 'F', f FROM m
        |  UNION ALL SELECT c, 'M', mon FROM m),
        |rk AS (
        |  SELECT c, metric,
        |    row_number() OVER (PARTITION BY metric ORDER BY v, c) - 1 AS gpos,
        |    count(*) OVER (PARTITION BY metric) AS n
        |  FROM u),
        |q AS (SELECT c, metric, (gpos * 4) // n + 1 AS q FROM rk),
        |piv AS (
        |  SELECT c,
        |    max(CASE WHEN metric = 'R' THEN q END) AS rq,
        |    max(CASE WHEN metric = 'F' THEN q END) AS fq,
        |    max(CASE WHEN metric = 'M' THEN q END) AS mq
        |  FROM q GROUP BY c)
        |SELECT concat_ws('-', rq, fq, mq) AS segment,
        |  count(*) AS n_customers, CAST(sum(m.mon) AS BIGINT) AS monetary_cents
        |FROM piv JOIN m ON m.c = piv.c
        |GROUP BY 1""".stripMargin
  )
}
