package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** I1-I7: the reference's graph adjacency-index build
  * (src/index/index.cpp:309-324) as one Spark dataflow:
  *
  *   edges(node_id, pos)
  *     → I2 RLE into (node_id, range_start, range_end)         [Rle.ranges]
  *     → I3+I4 range-partitioned sort by (node_id, start)      [repartitionByRange]
  *     → I5 merge adjacent/overlapping ranges                  [Intervals.merge]
  *     → range_pos = global position in (node_id, start) order [Offsets.globalPosition]
  *     → secondary index: range_pos → (edge_start, edge_end)
  *     → I6 dense left join against spark.range(nodeCount):
  *         per-node (first_range, last_range) into the flattened list,
  *         (0, 0) for edge-less ids                            [index.cpp:282-299]
  *
  * Scale notes (100 TB): every shuffle is keyed (hash on node_id for
  * RLE/counts, range on (node_id, start) for the sort) — the reference's
  * `MPI_Alltoallv` range exchange (index.cpp:220-250) IS Catalyst's
  * RangePartitioning. The only ordered scan runs over per-*node* counts
  * (bounded by node count, not edge count); `spark.range(nodeCount)` is a
  * synthetic leaf that splits without reading anything, and the I6 join is
  * a shuffle join on node_id that AQE converts to broadcast when the range
  * side is small.
  */
object CsrIndex {

  /** (primary, secondary) CSR index DataFrames.
    * primary:   node_id, range_start, range_end   — [0, nodeCount) dense
    * secondary: range_pos, edge_start, edge_end   — flattened range list
    *
    * RLE and run numbering are fused into ONE range shuffle by
    * `RangeRle.numbered` — the reference's per-rank RLE +
    * boundary merge + prefix-sum numbering (index.cpp:114-153,
    * 272-280). The declarative equivalent (`Rle.ranges` window +
    * `Offsets.globalPosition` stamp) computes the same ranges (asserted
    * in RangeRleSpec) but costs a hash shuffle for the RLE window plus
    * a second range shuffle for the numbering; `rle_group_ranges` keeps
    * the window formulation as the standalone oracled operator.
    */
  def build(edges: DataFrame, nodeCol: String, posCol: String, nodeCount: Long): (DataFrame, DataFrame) = {
    val ranges = RangeRle.numbered(edges.select(
      lit(0).as("dir"), col(nodeCol).as("node_id"), col(posCol).as("pos"))).ranges
    (primary(ranges, nodeCount), secondary(ranges))
  }

  /** I6 `dense_left_join_sequence` over numbered ranges (`node_id`,
    * `range_pos`, one direction): per node id in [0, nodeCount) the
    * half-open slice (first_range, first_range + cnt) of the flattened
    * range list, (0, 0) for edge-less ids (index.cpp:282-299). A node's
    * ranges are numbered consecutively, so min + count bounds them.
    */
  def primary(ranges: DataFrame, nodeCount: Long): DataFrame = {
    val counts = ranges.groupBy(col("node_id"))
      .agg(count(lit(1)).as("cnt"), min(col("range_pos")).as("first_range"))
    ranges.sparkSession.range(0, nodeCount).toDF("node_id")
      .join(counts, Seq("node_id"), "left_outer")
      .select(
        col("node_id"),
        coalesce(col("first_range"), lit(0L)).as("range_start"),
        coalesce(col("first_range") + col("cnt"), lit(0L)).as("range_end"))
  }

  /** The flattened range list: range_pos → (edge_start, edge_end). */
  private def secondary(ranges: DataFrame): DataFrame =
    ranges.select(
      col("range_pos"),
      col("range_start").as("edge_start"),
      col("range_end").as("edge_end"))

  private def lineitemEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"))
    Offsets.globalPosition(li, Seq(col("l_orderkey"), col("l_linenumber")))
      .withColumnRenamed("l_orderkey", "node_id")
  }

  /** Fused CSR build for the lineitem edge table: `globalPosition`
    * stamps `pos` in (l_orderkey, l_linenumber) order, and because that
    * order LEADS with the node key, its range-sorted partitions already
    * satisfy `RangeRle.numberedRangesPresorted`'s contract — the RLE
    * + run numbering run as a narrow stage over the position shuffle's
    * partitions instead of paying a second range exchange (round-10
    * verdict item; the board route previously shuffled twice on the
    * same key order). One range shuffle total for the whole index.
    */
  private def buildLineitemFused(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"))
    val withPos = Offsets.globalPosition(li, Seq(col("l_orderkey"), col("l_linenumber")))
    val ranges = RangeRle.numberedRangesPresorted(withPos.select(
      lit(0).as("dir"), col("l_orderkey").as("node_id"), col("pos")))
    // nodeCount from a direct footer-backed max scan of the key column
    // (the persisted edges scan the old route kept alive only for this)
    val nodeCount = nodeCountOf(
      Tables.lineitem(s, dir).select(col("l_orderkey").as("node_id")), "node_id")
    (primary(ranges, nodeCount), secondary(ranges))
  }

  /** max(col)+1 with empty-input → 0 (agg of empty yields a null row). */
  private def nodeCountOf(df: DataFrame, c: String): Long = {
    val r = df.agg(max(col(c))).first()
    (if (r.isNullAt(0)) -1L else r.getLong(0)) + 1
  }

  val queries: Map[String, Q] = Map(
    "csr_primary_index" -> ((s, dir) => buildLineitemFused(s, dir)._1),

    "csr_secondary_index" -> ((s, dir) => buildLineitemFused(s, dir)._2),

    // I3 `sort_ranges`: ordered range list (global sort — at scale this is
    // the same RangePartitioning exchange + per-partition sort as I4; the
    // separate entry mirrors the reference's standalone sort step,
    // index.cpp:206).
    "sort_ranges" -> ((s, dir) => {
      val edges = lineitemEdges(s, dir)
      Rle.ranges(edges, "node_id", "pos")
        .orderBy(col("node_id"), col("range_start"))
    }),

    // I3 `sort_ranges` + I4 `shuffle_by_key_range`: the range-partitioned
    // exchange + in-partition sort, surfaced as its own query (values are
    // order-insensitively compared; the point is the plan shape —
    // RangePartitioning exchange, no global single-partition sort).
    "shuffle_by_key_range" -> ((s, dir) => {
      val edges = lineitemEdges(s, dir)
      Rle.ranges(edges, "node_id", "pos")
        .repartitionByRange(col("node_id"), col("range_start"))
        .sortWithinPartitions(col("node_id"), col("range_start"))
    }),

    // Degree distribution of the edge table — the graph summary every
    // connectome (and every web/link corpus) profiles before an index
    // build: per-node degrees in each direction, then the histogram of
    // degrees. Two chained map-side-combining aggregates per direction;
    // the second runs over the (already tiny) per-node counts. The
    // distribution also bounds the CSR range blowup: max degree = the
    // longest possible RLE run.
    "degree_distribution" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      def hist(key: String, tag: String) =
        li.groupBy(col(key).as("node_id")).agg(count(lit(1)).as("degree"))
          .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
          .withColumn("dir", lit(tag))
      hist("l_orderkey", "out").unionByName(hist("l_suppkey", "in"))
        .select(col("dir"), col("degree"), col("n_nodes"))
    }),

    // I6 `dense_left_join_sequence` standalone: every id in [0, max]
    // materialized, edge-less ids get 0.
    "dense_left_join_sequence" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val nodeCount = nodeCountOf(orders, "o_custkey")
      val hist = orders.groupBy(col("o_custkey").as("node_id")).agg(count(lit(1)).as("n"))
      s.range(0, nodeCount).toDF("node_id")
        .join(hist, Seq("node_id"), "left_outer")
        .select(col("node_id"), coalesce(col("n"), lit(0L)).as("n"))
    })
  )

  private val rleRangesSql =
    """WITH epos AS (
      |  SELECT l_orderkey AS node_id,
      |         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS pos
      |  FROM lineitem),
      |g AS (
      |  SELECT node_id, pos,
      |         pos - ROW_NUMBER() OVER (PARTITION BY node_id ORDER BY pos) AS grp
      |  FROM epos),
      |ranges AS (
      |  SELECT node_id, min(pos) AS range_start, max(pos) + 1 AS range_end
      |  FROM g GROUP BY node_id, grp)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "degree_distribution" ->
      """WITH o AS (SELECT l_orderkey, count(*) AS degree FROM lineitem GROUP BY 1),
        |i AS (SELECT l_suppkey, count(*) AS degree FROM lineitem GROUP BY 1)
        |SELECT 'out' AS dir, degree, count(*) AS n_nodes FROM o GROUP BY degree
        |UNION ALL
        |SELECT 'in' AS dir, degree, count(*) AS n_nodes FROM i GROUP BY degree""".stripMargin,

    "csr_primary_index" -> (rleRangesSql +
      """,
        |numbered AS (
        |  SELECT node_id,
        |         ROW_NUMBER() OVER (ORDER BY node_id, range_start) - 1 AS range_pos
        |  FROM ranges),
        |offs AS (
        |  SELECT node_id, count(*) AS cnt, min(range_pos) AS first_range
        |  FROM numbered GROUP BY node_id),
        |ids AS (
        |  SELECT unnest(generate_series(0, (SELECT max(l_orderkey) FROM lineitem))) AS node_id)
        |SELECT ids.node_id,
        |  COALESCE(first_range, 0) AS range_start,
        |  COALESCE(first_range + cnt, 0) AS range_end
        |FROM ids LEFT JOIN offs USING (node_id)""".stripMargin),

    "csr_secondary_index" -> (rleRangesSql +
      """
        |SELECT ROW_NUMBER() OVER (ORDER BY node_id, range_start) - 1 AS range_pos,
        |  range_start AS edge_start, range_end AS edge_end
        |FROM ranges""".stripMargin),

    "shuffle_by_key_range" -> (rleRangesSql +
      """
        |SELECT node_id, range_start, range_end FROM ranges""".stripMargin),

    "sort_ranges" -> (rleRangesSql +
      """
        |SELECT node_id, range_start, range_end FROM ranges
        |ORDER BY node_id, range_start""".stripMargin),

    "dense_left_join_sequence" ->
      """SELECT ids.node_id, COALESCE(h.n, 0) AS n
        |FROM (SELECT unnest(generate_series(0, (SELECT max(o_custkey) FROM orders))) AS node_id) ids
        |LEFT JOIN (SELECT o_custkey AS node_id, count(*) AS n
        |           FROM orders GROUP BY o_custkey) h USING (node_id)""".stripMargin
  )
}
