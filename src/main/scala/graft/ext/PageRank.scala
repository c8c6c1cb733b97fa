package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative link analysis — the graph family beyond connected
  * components (DedupCluster): PageRank over an edge list, formulated
  * INTEGER-EXACT so a fixed iteration count is bit-reproducible on any
  * engine (the same determinism discipline as KMeans/QuantizedDot:
  * floor-divided longs, no float accumulation ambiguity).
  *
  * Arithmetic, mirrored verbatim in the DuckDB oracle via unrolled
  * CTE rounds (`//` there ≡ `div` here; every value nonnegative so
  * floor = truncate):
  *
  *   r0(v)     = scale div N
  *   r_{t+1}(v) = (15 * scale div 100) div N
  *              + 85 * Σ_{u→v} (r_t(u) div outdeg(u)) div 100
  *
  * [[pageRankInt]] drops dangling mass (nodes with no out-edges) — the
  * common simplified formulation; [[pageRankDanglingInt]] redistributes
  * it uniformly per round (the default of mainstream graph libraries).
  * Both are registered and oracled.
  *
  * 100 TB shape: each round is ONE edge-keyed shuffle — `edges ⋈ ranks`
  * on src (ranks is node-sized, the small side of the join), then a
  * map-side-combining sum keyed on dst; the out-degree table is
  * node-sized and joins pre-aggregation. No driver state, no
  * per-round collect, iteration count fixed up front. The edge list
  * is re-read per round from the persisted frame, so at scale the
  * natural layout is edges bucketed by src (Layout.writeBucketed)
  * making the per-round join exchange-free on the edge side.
  */
object PageRank {

  /** `iterations` rounds of integer PageRank over `edges(src, dst)`.
    * Returns (node_id, rank) for every node appearing as src or dst.
    * Leaves the persisted edge/node frames to
    * `spark.catalog.clearCache()` — use [[pageRankIntStamped]] for the
    * unpersist handle.
    */
  def pageRankInt(edges: DataFrame, iterations: Int,
                  scale: Long = 1000000L): DataFrame =
    pageRankIntStamped(edges, iterations, scale)._1

  /** [[pageRankInt]] plus the thunk releasing the persisted edge and
    * node frames (same caller contract as the dedup entry points).
    */
  def pageRankIntStamped(edges: DataFrame, iterations: Int,
                         scale: Long = 1000000L): (DataFrame, () => Unit) = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probed once per round — persisted so the degree aggregate runs
    // once, not `rounds` times
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // N and the per-round teleport base are SCALARS — computed once,
    // cross-joined (1 row) rather than collected to the driver
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(n)
      .select(col("node_id"), expr(s"$scale div n_nodes").as("rank"))
    for (i <- 0 until iterations) {
      val contrib = e.join(outDeg, "src")
        .join(ranks.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst").as("node_id"), expr("rank div deg").as("c"))
        .groupBy(col("node_id")).agg(sum(col("c")).as("contrib"))
      ranks = nodes.crossJoin(n)
        .join(contrib, Seq("node_id"), "left")
        .select(col("node_id"),
          (expr(s"(15 * $scale div 100) div n_nodes") +
            expr(s"85 * ${coalesceContrib} div 100")).as("rank"))
      // iterative self-reference doubles the lineage every round —
      // truncate it periodically (lazy: the next round's join is the
      // materializing action), same discipline as the CC loop; on a
      // real cluster swap for reliable checkpoint to a DFS dir
      if ((i + 1) % 5 == 0 && i + 1 < iterations)
        ranks = ranks.localCheckpoint(eager = false)
    }
    (ranks, () => { e.unpersist(); nodes.unpersist(); outDeg.unpersist(); () })
  }

  private val coalesceContrib = "coalesce(contrib, 0L)"

  /** The dangling-mass-REDISTRIBUTING variant — the formulation graph
    * libraries default to: each round, the total rank held by nodes
    * with no out-edges is divided uniformly across all nodes before
    * damping, so rank mass is (floor-division aside) conserved:
    *
    *   r_{t+1}(v) = (15 * scale div 100) div N
    *              + 85 * (Σ_{u→v} (r_t(u) div outdeg(u)) + dangling_t div N) div 100
    *   dangling_t = Σ_{outdeg(u) = 0} r_t(u)
    *
    * `dangling_t` is a 1-row aggregate (an anti-join of ranks against
    * the out-degree table, then a scalar sum) cross-joined into the
    * node-sized update — never a collect, never data-sized. Everything
    * else shares [[pageRankIntStamped]]'s shape: one edge-keyed
    * shuffle + one map-side-combining sum per round.
    */
  def pageRankDanglingInt(edges: DataFrame, iterations: Int,
                          scale: Long = 1000000L): DataFrame =
    pageRankDanglingIntStamped(edges, iterations, scale)._1

  /** [[pageRankDanglingInt]] plus the unpersist thunk. */
  def pageRankDanglingIntStamped(edges: DataFrame, iterations: Int,
                                 scale: Long = 1000000L): (DataFrame, () => Unit) = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // read twice per round (contrib join + the dangling anti-join) —
    // persisted so the degree aggregate runs once, not 2·rounds times
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(n)
      .select(col("node_id"), expr(s"$scale div n_nodes").as("rank"))
    for (_ <- 0 until iterations) {
      val contrib = e.join(outDeg, "src")
        .join(ranks.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst").as("node_id"), expr("rank div deg").as("c"))
        .groupBy(col("node_id")).agg(sum(col("c")).as("contrib"))
      // 1-row scalar: rank mass parked on dangling nodes this round
      val dangling = ranks
        .join(outDeg.withColumnRenamed("src", "node_id"), Seq("node_id"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dangling"))
      ranks = nodes.crossJoin(n).crossJoin(dangling)
        .join(contrib, Seq("node_id"), "left")
        .select(col("node_id"),
          (expr(s"(15 * $scale div 100) div n_nodes") +
            expr(s"85 * ($coalesceContrib + dangling div n_nodes) div 100")).as("rank"))
        // each round reads `ranks` TWICE (contrib + dangling): without a
        // cut, round r's plan nests round r-1 twice and the fit's plan
        // and recompute double per round. A node-sized local checkpoint
        // every round computes each round once and keeps the plan one
        // leaf (lazy: the next round's shuffles are the action).
        .localCheckpoint(eager = false)
    }
    (ranks, () => { e.unpersist(); nodes.unpersist(); outDeg.unpersist(); () })
  }

  /** PERSONALIZED PageRank (random walk with restart to a source SET —
    * the recommendation-ranking formulation): teleport mass lands only
    * on `sources`, so rank measures proximity to the set rather than
    * global centrality:
    *
    *   r0(v)      = [v ∈ S] · scale div |S|
    *   r_{t+1}(v) = [v ∈ S] · (15·scale div 100) div |S|
    *              + 85 · Σ_{u→v} (r_t(u) div outdeg(u)) div 100
    *
    * Same per-round shape as [[pageRankInt]] (one edge-keyed shuffle +
    * one combine-enabled sum); the source membership flag is a
    * node-sized left join, |S| a 1-row scalar. Nodes never reached from
    * S keep rank 0 and are emitted (the caller filters) — keeping the
    * node universe identical to the global variant keeps the oracle's
    * CTE chain mechanical.
    */
  def pageRankPersonalizedInt(edges: DataFrame, sources: DataFrame,
                              iterations: Int,
                              scale: Long = 1000000L): (DataFrame, () => Unit) = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val srcSet = sources.select(col("node_id")).distinct()
      .withColumn("is_src", lit(true))
    val ns = srcSet.agg(count(lit(1)).as("n_src"))
    def teleport(term: String) =
      when(col("is_src"), expr(term)).otherwise(lit(0L))
    var ranks = nodes
      .join(srcSet, Seq("node_id"), "left")
      .crossJoin(ns)
      .select(col("node_id"), teleport(s"$scale div n_src").as("rank"))
    for (i <- 0 until iterations) {
      val contrib = e.join(outDeg, "src")
        .join(ranks.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst").as("node_id"), expr("rank div deg").as("c"))
        .groupBy(col("node_id")).agg(sum(col("c")).as("contrib"))
      ranks = nodes
        .join(srcSet, Seq("node_id"), "left")
        .crossJoin(ns)
        .join(contrib, Seq("node_id"), "left")
        .select(col("node_id"),
          (teleport(s"(15 * $scale div 100) div n_src") +
            expr(s"85 * ${coalesceContrib} div 100")).as("rank"))
      if ((i + 1) % 5 == 0 && i + 1 < iterations)
        ranks = ranks.localCheckpoint(eager = false)
    }
    (ranks, () => { e.unpersist(); nodes.unpersist(); outDeg.unpersist(); () })
  }

  val queries: Map[String, Q] = Map(
    // supplier→part bipartite graph from lineitem (distinct edges; part
    // ids offset into their own id space), 3 integer-exact rounds
    "graph_pagerank" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + lit(1000000L)).as("dst"))
        .distinct()
      pageRankInt(edges, iterations = 3)
    }),

    // personalized: restart to suppliers 0..19 — ranks parts (and
    // suppliers) by proximity to that seed set, the recommendation
    // shape; zero-rank nodes filtered at the edge (caller's choice)
    "graph_pagerank_personalized" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + lit(1000000L)).as("dst"))
        .distinct()
      val sources = Tables.supplier(s, dir)
        .where(col("s_suppkey") < 20)
        .select(col("s_suppkey").cast("long").as("node_id"))
      pageRankPersonalizedInt(edges, sources, iterations = 3)._1
        .where(col("rank") > 0)
    }),

    // same bipartite graph, dangling mass redistributed — every part
    // node is dangling here (parts have no out-edges), so the two
    // variants differ materially and the oracle pins the redistribution
    // arithmetic, not just the shared plumbing
    "graph_pagerank_dangling" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + lit(1000000L)).as("dst"))
        .distinct()
      pageRankDanglingInt(edges, iterations = 3)
    })
  )

  val oracleSql: Map[String, String] = Map(
    // the same arithmetic unrolled: DuckDB's // is floor division,
    // identical to Spark's `div` on the nonnegative longs used here
    "graph_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(l_partkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem),
        |nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
        |n AS (SELECT count(*) AS n_nodes FROM nodes),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node_id, CAST(1000000 // n_nodes AS BIGINT) AS rank FROM nodes, n),
        |c1 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT nodes.node_id,
        |         CAST((15 * 1000000 // 100) // n_nodes + 85 * COALESCE(c1.contrib, 0) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN n LEFT JOIN c1 ON c1.node_id = nodes.node_id),
        |c2 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r1 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT nodes.node_id,
        |         CAST((15 * 1000000 // 100) // n_nodes + 85 * COALESCE(c2.contrib, 0) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN n LEFT JOIN c2 ON c2.node_id = nodes.node_id),
        |c3 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r2 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT nodes.node_id,
        |         CAST((15 * 1000000 // 100) // n_nodes + 85 * COALESCE(c3.contrib, 0) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN n LEFT JOIN c3 ON c3.node_id = nodes.node_id)
        |SELECT node_id, rank FROM r3""".stripMargin,

    // personalized unrolled: the teleport term is gated on source
    // membership and divided by |S|, everything else is the shared
    // round arithmetic
    "graph_pagerank_personalized" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(l_partkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem),
        |nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
        |s AS (SELECT CAST(s_suppkey AS BIGINT) AS node_id FROM supplier
        |      WHERE s_suppkey < 20),
        |ns AS (SELECT count(*) AS n_src FROM s),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT nodes.node_id,
        |         CAST(CASE WHEN s.node_id IS NOT NULL
        |           THEN 1000000 // n_src ELSE 0 END AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN ns LEFT JOIN s ON s.node_id = nodes.node_id),
        |c1 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT nodes.node_id,
        |         CAST(CASE WHEN s.node_id IS NOT NULL
        |             THEN (15 * 1000000 // 100) // n_src ELSE 0 END
        |           + 85 * COALESCE(c1.contrib, 0) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN ns LEFT JOIN s ON s.node_id = nodes.node_id
        |       LEFT JOIN c1 ON c1.node_id = nodes.node_id),
        |c2 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r1 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT nodes.node_id,
        |         CAST(CASE WHEN s.node_id IS NOT NULL
        |             THEN (15 * 1000000 // 100) // n_src ELSE 0 END
        |           + 85 * COALESCE(c2.contrib, 0) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN ns LEFT JOIN s ON s.node_id = nodes.node_id
        |       LEFT JOIN c2 ON c2.node_id = nodes.node_id),
        |c3 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r2 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT nodes.node_id,
        |         CAST(CASE WHEN s.node_id IS NOT NULL
        |             THEN (15 * 1000000 // 100) // n_src ELSE 0 END
        |           + 85 * COALESCE(c3.contrib, 0) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN ns LEFT JOIN s ON s.node_id = nodes.node_id
        |       LEFT JOIN c3 ON c3.node_id = nodes.node_id)
        |SELECT node_id, rank FROM r3 WHERE rank > 0""".stripMargin,

    // the redistribute variant unrolled: dangling_t is the scalar sum
    // of rank over nodes absent from the out-degree table, folded into
    // every node's update before damping
    "graph_pagerank_dangling" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(l_partkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem),
        |nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
        |n AS (SELECT count(*) AS n_nodes FROM nodes),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node_id, CAST(1000000 // n_nodes AS BIGINT) AS rank FROM nodes, n),
        |c1 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |g1 AS (SELECT COALESCE(sum(rank), 0) AS dang FROM r0
        |       WHERE node_id NOT IN (SELECT src FROM deg)),
        |r1 AS (SELECT nodes.node_id,
        |         CAST((15 * 1000000 // 100) // n_nodes
        |           + 85 * (COALESCE(c1.contrib, 0) + dang // n_nodes) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN n CROSS JOIN g1
        |       LEFT JOIN c1 ON c1.node_id = nodes.node_id),
        |c2 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r1 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |g2 AS (SELECT COALESCE(sum(rank), 0) AS dang FROM r1
        |       WHERE node_id NOT IN (SELECT src FROM deg)),
        |r2 AS (SELECT nodes.node_id,
        |         CAST((15 * 1000000 // 100) // n_nodes
        |           + 85 * (COALESCE(c2.contrib, 0) + dang // n_nodes) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN n CROSS JOIN g2
        |       LEFT JOIN c2 ON c2.node_id = nodes.node_id),
        |c3 AS (SELECT e.dst AS node_id, sum(r.rank // d.deg) AS contrib
        |       FROM e JOIN deg d ON d.src = e.src JOIN r2 r ON r.node_id = e.src
        |       GROUP BY e.dst),
        |g3 AS (SELECT COALESCE(sum(rank), 0) AS dang FROM r2
        |       WHERE node_id NOT IN (SELECT src FROM deg)),
        |r3 AS (SELECT nodes.node_id,
        |         CAST((15 * 1000000 // 100) // n_nodes
        |           + 85 * (COALESCE(c3.contrib, 0) + dang // n_nodes) // 100 AS BIGINT) AS rank
        |       FROM nodes CROSS JOIN n CROSS JOIN g3
        |       LEFT JOIN c3 ON c3.node_id = nodes.node_id)
        |SELECT node_id, rank FROM r3""".stripMargin
  )
}
