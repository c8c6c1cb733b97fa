package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{classic, Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

/** O5 `exclusive_prefix_sum` — the reference's signature distributed-scan
  * pattern: exclusive prefix sum of per-partition counts to assign global
  * write offsets (MPI Gather → serial scan → Scatter,
  * src/parquet2hdf5.cpp:97-110; src/index/index.cpp:272-280).
  *
  * Spark-first: the scan runs over the (tiny) per-key count table, so the
  * unpartitioned window is bounded by the number of groups, not the number
  * of rows — at 100 TB the big table is only touched by the map-side
  * partial count. This is the deterministic replacement for
  * `monotonically_increasing_id` everywhere row order is load-bearing
  * (SURVEY.md §7.5.2).
  */
object Offsets {

  /** (key, cnt, write_offset) with write_offset = exclusive prefix sum of
    * cnt in `orderCol` order.
    */
  def exclusivePrefixSum(counts: DataFrame, orderCol: String, cntCol: String = "cnt"): DataFrame = {
    val w = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.withColumn("write_offset",
      coalesce(sum(col(cntCol)).over(w), lit(0L)))
  }

  /** Deterministic global row position in `ord` order (the reference's
    * "global row = rank offset + local row", src/parquet2hdf5.cpp:97-110),
    * as the reference's gather → scan → scatter: range-shuffle + local
    * sort gives a total order across partitions; ONE job gathers the
    * per-partition row counts to the driver, which takes their exclusive
    * prefix; a `mapPartitionsWithIndex` over the SAME sorted RDD stamps
    * `base(partition) + local index`. Both passes read that one RDD, so
    * they reuse one shuffle output and see one partition layout — no
    * cache, no second exchange, no data-sized window or join, and nothing
    * for the caller to release. Eager: the count job runs when this is
    * called. `ord` must be a total order (include a tiebreaker key) or
    * positions are ambiguous.
    */
  def globalPosition(df: DataFrame, ord: Seq[Column], posCol: String = "pos"): DataFrame =
    globalPositionStamped(df, ord, posCol)._1

  /** [[globalPosition]] plus the range-sorted input it stamped. Nothing is
    * cached: unpersisting the second element is a no-op and leaves a
    * cache the caller put on the first in place.
    */
  def globalPositionStamped(df: DataFrame, ord: Seq[Column],
                            posCol: String = "pos"): (DataFrame, DataFrame) = {
    val sorted = df.repartitionByRange(ord: _*).sortWithinPartitions(ord: _*)
    val rows = sorted.queryExecution.toRdd
    val counts = rows.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
    val bases = counts.scanLeft(0L)(_ + _)
    val types = sorted.schema.fields.map(_.dataType) :+ LongType
    val stamped = rows.mapPartitionsWithIndex[InternalRow] { (pid, it) =>
      val project = UnsafeProjection.create(types)
      val pos = new SpecificInternalRow(Seq(LongType))
      val joined = new JoinedRow
      var next = bases(pid)
      it.map { r => pos.setLong(0, next); next += 1; project(joined(r, pos)) }
    }
    val output = (sorted.queryExecution.analyzed.output :+
      AttributeReference(posCol, LongType, nullable = false)()).map(_.newInstance())
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * bases.last,
      rowCount = Some(BigInt(bases.last)))
    val spark = sorted.sparkSession.asInstanceOf[classic.SparkSession]
    (GraftSqlShim.ofRows(spark, LogicalRDD(output, stamped)(spark, Some(stats))), sorted)
  }

  /** `globalPositionStamped` with a leading GROUP dimension: `ord` must
    * lead with ascending `groupCol`, so groups are contiguous in the
    * total order. Emits BOTH the global position (`posCol`) and each
    * row's position WITHIN its group (`groupPosCol`) — the per-group
    * bases ride the same tiny broadcast as the per-partition offsets
    * (counts keyed (partition, group) instead of partition alone), so
    * numbering G groups independently costs exactly the same jobs as
    * numbering one. This is the reference's per-communicator offset
    * exchange (src/index/index.cpp:272-280) run ONCE for all
    * communicators, and its per-FILE offset table
    * (src/parquet2hdf5.cpp:97-110) when the group is a filename.
    *
    * Scale regimes: groups are contiguous in the total order, so the
    * bucket table holds ≈ |groups| + |partitions| rows and the default
    * broadcast is sized by GROUP COUNT — fine to ~10^6 groups (tens of
    * MB), the regime of per-file offsets. Past that, pass
    * `broadcastOffsets = false`: the bucket join becomes a plain
    * equi-join on (_pid, group) — one keyed shuffle of the data, no
    * driver-sized structure anywhere, good to any group count. The
    * hint stays explicit (not left to AQE) in the default because
    * window outputs carry poor size estimates and AQE would sometimes
    * pick that shuffle long before the ceiling.
    */
  def globalPositionGroupedStamped(df: DataFrame, groupCol: String, ord: Seq[Column],
                                   posCol: String, groupPosCol: String,
                                   broadcastOffsets: Boolean = true): (DataFrame, DataFrame) = {
    val sorted = df.repartitionByRange(ord: _*).sortWithinPartitions(ord: _*)
    val withMid = sorted.withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33))
      .withColumn("_local", col("_mid").bitwiseAND((1L << 33) - 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = withMid.groupBy(col("_pid"), col(groupCol).as("_grp"))
      .agg(count(lit(1)).as("cnt"))
    // (pid, grp) bucket order IS the global row order: partitions are
    // range-ordered and ord leads with groupCol inside each partition.
    // All three windows run over the bucket table (|partitions|·|groups|
    // rows), never the data.
    val wAll = Window.orderBy(col("_pid"), col("_grp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_boff", coalesce(sum(col("cnt")).over(wAll), lit(0L)))
      .withColumn("_pbase", min(col("_boff")).over(Window.partitionBy(col("_pid"))))
      .withColumn("_gbase", min(col("_boff")).over(Window.partitionBy(col("_grp"))))
    val bucketSide = offsets.select(col("_pid"), col("_grp").as(groupCol),
      col("_pbase"), col("_gbase"))
    val result = withMid
      .join(if (broadcastOffsets) broadcast(bucketSide) else bucketSide,
        Seq("_pid", groupCol))
      .withColumn(posCol, col("_pbase") + col("_local"))
      .withColumn(groupPosCol, col(posCol) - col("_gbase"))
      .select(df.columns.map(col) ++ Seq(col(posCol), col(groupPosCol)): _*)
    (result, withMid)
  }

  /** Exclusive WEIGHTED prefix sum over data rows in `ord` order —
    * `globalPosition` generalized from weight 1 to `weightCol` (token
    * budgets, byte sizes): each row gets the sum of all preceding rows'
    * weights. A two-phase plan with no single-partition stage:
    * the only unpartitioned window runs over the per-partition totals
    * (cluster-width rows); the per-row running sum is a window
    * PARTITIONED by the physical partition id, so its parallelism is
    * the partition count and its state is one accumulator per task.
    * `ord` must be a total order.
    */
  def globalWeightedPrefix(df: DataFrame, ord: Seq[Column], weightCol: String,
                           cumCol: String = "cum"): DataFrame =
    globalWeightedPrefixStamped(df, ord, weightCol, cumCol)._1

  /** [[globalWeightedPrefix]] plus the persisted internal frame, which
    * both branches read so they see one partition layout (AQE may
    * coalesce the exchange differently per branch); unpersist it once the
    * result's actions complete.
    */
  def globalWeightedPrefixStamped(df: DataFrame, ord: Seq[Column], weightCol: String,
                                  cumCol: String = "cum"): (DataFrame, DataFrame) = {
    val sorted = df.repartitionByRange(ord: _*).sortWithinPartitions(ord: _*)
    val withMid = sorted.withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = withMid.groupBy(col("_pid")).agg(sum(col(weightCol)).as("cnt"))
    val offsets = exclusivePrefixSum(totals, "_pid")
    val wLocal = Window.partitionBy(col("_pid")).orderBy(col("_mid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val result = withMid
      .withColumn("_run", sum(col(weightCol)).over(wLocal))
      .join(broadcast(offsets.select(col("_pid"), col("write_offset"))), "_pid")
      .withColumn(cumCol, col("_run") - col(weightCol) + col("write_offset"))
      .select(df.columns.map(col) :+ col(cumCol): _*)
    (result, withMid)
  }

  val queries: Map[String, Q] = Map(
    "global_position" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"))
      globalPosition(li, Seq(col("l_orderkey"), col("l_linenumber")))
    }),
    "exclusive_prefix_sum" -> ((s, dir) => {
      val counts = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("part_id"))
        .agg(count(lit(1)).as("cnt"))
      exclusivePrefixSum(counts, "part_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "global_position" ->
      """SELECT l_orderkey, l_linenumber,
        |  ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS pos
        |FROM lineitem""".stripMargin,
    // DuckDB windowed SUM(BIGINT) yields HUGEINT — cast back or the
    // driver's dtype-aware hash mismatches Spark's int64
    "exclusive_prefix_sum" ->
      """SELECT part_id, cnt,
        |  CAST(COALESCE(SUM(cnt) OVER (ORDER BY part_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS write_offset
        |FROM (SELECT o_custkey AS part_id, count(*) AS cnt
        |      FROM orders GROUP BY o_custkey) t""".stripMargin
  )
}
