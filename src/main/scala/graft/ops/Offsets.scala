package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{classic, Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, BoundReference, InterpretedOrdering, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** O5 `exclusive_prefix_sum` — the reference's signature distributed-scan
  * pattern: exclusive prefix sum of per-partition counts to assign global
  * write offsets (MPI Gather → serial scan → Scatter,
  * src/parquet2hdf5.cpp:97-110; src/index/index.cpp:272-280).
  *
  * Spark-first: [[exclusivePrefixSum]] scans a (tiny) per-key count
  * table, so its unpartitioned window is bounded by the number of keys.
  * Every data-sized offset — the global position, the position within a
  * group and the weighted prefix — is one gather → scan → scatter pass
  * whose driver state is bounded by the partition count. This is the
  * deterministic replacement for partition-dependent row ids everywhere
  * row order is load-bearing (SURVEY.md §7.5.2).
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
    * cache, no second exchange, no data-sized window, and nothing for
    * the caller to release. Eager: the count job runs when this is
    * called. `ord` must be a total order (include a tiebreaker key) or
    * positions are ambiguous.
    */
  def globalPosition(df: DataFrame, ord: Seq[Column], posCol: String = "pos"): DataFrame =
    globalPositionStamped(df, ord, posCol)._1

  /** [[globalPosition]] plus the range-sorted input it stamped. Nothing is
    * cached: releasing the second element is a no-op and leaves a cache
    * the caller put on the first in place.
    */
  def globalPositionStamped(df: DataFrame, ord: Seq[Column],
                            posCol: String = "pos"): (DataFrame, DataFrame) =
    stamp(df, ord, posCol, None, None)

  /** [[globalPosition]] with a GROUP dimension: `ord` must lead with
    * `groupCol`, so each group is contiguous in the total order. Emits
    * the global position (`posCol`) and each row's position WITHIN its
    * group (`groupPosCol`). A null group is a group, placed where `ord`
    * puts nulls. This is the reference's per-communicator offset
    * exchange (src/index/index.cpp:272-280) run ONCE for all
    * communicators, and its per-FILE offset table
    * (src/parquet2hdf5.cpp:97-110) when the group is a filename. Same
    * jobs as [[globalPosition]]; the driver holds one summary per
    * partition, whatever the number of groups.
    */
  def globalPositionGrouped(df: DataFrame, groupCol: String, ord: Seq[Column],
                            posCol: String, groupPosCol: String): DataFrame =
    stamp(df, ord, posCol, None, Some(groupCol -> groupPosCol))._1

  /** Exclusive WEIGHTED prefix sum over data rows in `ord` order —
    * [[globalPosition]] generalized from weight 1 to the integral
    * `weightCol` (token budgets, byte sizes): each row gets the sum of
    * all preceding rows' weights. A null weight gives a null `cumCol`
    * and adds nothing to later rows. Same jobs as [[globalPosition]].
    * `ord` must be a total order.
    */
  def globalWeightedPrefix(df: DataFrame, ord: Seq[Column], weightCol: String,
                           cumCol: String = "cum"): DataFrame =
    stamp(df, ord, cumCol, Some(weightCol), None)._1

  /** One partition as the gather sees it: rows, weight total, first and
    * last group key (null if empty) and the weight of its last group.
    */
  private final case class Summary(rows: Long, total: Long, first: UnsafeRow, last: UnsafeRow, lastGroup: Long)

  /** The gather → scan → scatter pass behind every form above. One job
    * gathers a summary per partition of the range-sorted RDD; the driver
    * walks them into each partition's base and the start of its first
    * group (a group may straddle partitions); a `mapPartitionsWithIndex`
    * over the same RDD stamps `base + running weight` and the position
    * within the group, restarting it at each group change. Without group
    * and weight the summary is the row count and each row adds 1.
    */
  private def stamp(df: DataFrame, ord: Seq[Column], posCol: String, weightCol: Option[String],
                    group: Option[(String, String)]): (DataFrame, DataFrame) = {
    val sorted = df.repartitionByRange(ord: _*).sortWithinPartitions(ord: _*)
    val rows = sorted.queryExecution.toRdd
    val schema = sorted.schema
    val plain = weightCol.isEmpty && group.isEmpty
    val key = group.map { case (g, _) => BoundReference(schema.fieldIndex(g), schema(g).dataType, nullable = true) }
    val w = weightCol.fold(-1)(schema.fieldIndex)
    val wType = if (w < 0) LongType else schema(w).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(wType), s"weight column must be integral, got $wType")
    // a null weighs nothing
    val weigh: InternalRow => Long =
      if (w < 0) _ => 1L else r => if (r.isNullAt(w)) 0L else r.get(w, wType).asInstanceOf[Number].longValue
    val (bases, starts, nRows) = if (plain) {
      val counts = rows.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
      val bases = counts.scanLeft(0L)(_ + _)
      (bases, bases, bases.last)
    } else {
      val sums = rows.mapPartitions { it =>
        val (keyOf, keys) = keying(key)
        var n, total, lastGroup = 0L
        var first, last: UnsafeRow = null
        it.foreach { r =>
          val k = keyOf(r)
          if (last == null || keys.compare(last, k) != 0) {
            last = k.copy(); if (first == null) first = last; lastGroup = 0L
          }
          val w = weigh(r); n += 1; total += w; lastGroup += w
        }
        Iterator.single(Summary(n, total, first, last, lastGroup))
      }.collect()
      val keys = keying(key)._2
      val bases = sums.scanLeft(0L)(_ + _.total)
      val starts = new Array[Long](sums.length)
      var (last, carried) = (null: UnsafeRow, 0L)
      for ((s, p) <- sums.zipWithIndex if s.first != null) {
        starts(p) = if (last != null && keys.compare(last, s.first) == 0) carried else bases(p)
        carried = if (keys.compare(s.first, s.last) == 0) starts(p) else bases(p + 1) - s.lastGroup
        last = s.last
      }
      (bases, starts, sums.map(_.rows).sum)
    }
    val extra = AttributeReference(posCol, LongType, w >= 0 && schema(w).nullable)() +:
      group.map { case (_, g) => AttributeReference(g, LongType, nullable = false)() }.toSeq
    val types = schema.fields.map(_.dataType) ++ extra.map(_.dataType)
    val stamped = rows.mapPartitionsWithIndex[InternalRow] { (pid, it) =>
      val project = UnsafeProjection.create(types)
      val pos = new SpecificInternalRow(extra.map(_.dataType))
      val joined = new JoinedRow
      var next = bases(pid)
      if (plain) it.map { r => pos.setLong(0, next); next += 1; project(joined(r, pos)) }
      else {
        val (keyOf, keys) = keying(key)
        var (start, cur) = (starts(pid), null: UnsafeRow)
        it.map { r =>
          val k = keyOf(r)
          if (cur == null) cur = k.copy()
          else if (keys.compare(cur, k) != 0) { cur = k.copy(); start = next }
          if (w >= 0 && r.isNullAt(w)) pos.setNullAt(0) else pos.setLong(0, next)
          if (group.isDefined) pos.setLong(1, next - start)
          next += weigh(r)
          project(joined(r, pos))
        }
      }
    }
    val output = (sorted.queryExecution.analyzed.output ++ extra).map(_.newInstance())
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * nRows, rowCount = Some(BigInt(nRows)))
    val spark = sorted.sparkSession.asInstanceOf[classic.SparkSession]
    (GraftSqlShim.ofRows(spark, LogicalRDD(output, stamped)(spark, Some(stats))), sorted)
  }

  /** A row's group key as a one-field row (no field without a group),
    * and the ordering under which two keys are one group: `ord`'s
    * equality, so a null key is a group and -0.0 is 0.0.
    */
  private def keying(key: Option[BoundReference]): (UnsafeProjection, InterpretedOrdering) =
    (UnsafeProjection.create(key.toSeq), new InterpretedOrdering(
      key.map(k => SortOrder(BoundReference(0, k.dataType, nullable = true), Ascending)).toSeq))

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
