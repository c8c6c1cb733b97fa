package graft

import graft.ops.{Offsets, Rle, RangeRle}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `RangeRle.numberedRanges` (fused range-shuffle RLE + numbering,
  * reference index.cpp:114-153/272-280) must agree EXACTLY with the
  * declarative formulation `Rle.ranges` + `Offsets.globalPosition` on
  * every input shape — especially runs straddling range-partition
  * boundaries, which is the whole point of the boundary merge.
  */
class RangeRleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  /** Oracle: window RLE per dir + per-dir numbering in (node, start) order. */
  private def windowed(pairs: DataFrame): Set[(Int, Long, Long, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("dir"), col("node_id")).orderBy(col("pos"))
    val ranges = pairs
      .withColumn("_island", col("pos") - row_number().over(w))
      .groupBy(col("dir"), col("node_id"), col("_island"))
      .agg(min(col("pos")).as("range_start"), (max(col("pos")) + 1).as("range_end"))
      .drop("_island")
    val wn = Window.partitionBy(col("dir")).orderBy(col("node_id"), col("range_start"))
    ranges.withColumn("range_pos", row_number().over(wn).cast("long") - 1)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
  }

  private def fused(pairs: DataFrame): Set[(Int, Long, Long, Long, Long)] = {
    val (ranges, done) = RangeRle.numberedRanges(pairs)
    val out = ranges.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    done()
    out
  }

  private def check(pairs: DataFrame): Unit = assert(fused(pairs) == windowed(pairs))

  private def df(rows: Seq[(Int, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("dir", "node_id", "pos")
  }

  test("one giant run spanning every partition") {
    check(df((0L until 1000L).map(p => (0, 7L, p))))
  }

  test("presorted route over a globalPositionStamped layout equals the general route") {
    // the CsrIndex fused path: pos stamped in an order LEADING with the
    // node key, then RLE without a second exchange. Skewed key sizes +
    // enough rows that runs straddle the range-partition boundaries.
    val rows = (0L until 2000L).map(i => (i % 50, i / 50)) // (node, seq) — node sizes 40
    import spark.implicits._
    val base = rows.toDF("node_id", "seq")
    val (withPos, frame) = Offsets.globalPositionStamped(
      base, Seq(col("node_id"), col("seq")))
    val pre = withPos.select(lit(0).as("dir"), col("node_id"), col("pos"))
    val got = RangeRle.numberedRangesPresorted(pre).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    frame.unpersist()
    // reference result from the general (self-shuffling) route
    val expect = fused(withPos.select(lit(0).as("dir"), col("node_id"), col("pos")))
    assert(got == expect)
    // node keys lead the order, so every node is exactly one range here
    assert(got.size == 50)
  }

  test("alternating keys — every row its own run") {
    check(df((0L until 500L).map(p => (0, p % 5, p))))
  }

  test("two dirs with contiguous and scattered runs") {
    val src = (0L until 300L).map(p => (0, p / 3, p))          // contiguous runs of 3
    val tgt = (0L until 300L).map(p => (1, p % 7, p))          // scattered
    check(df(src ++ tgt))
  }

  test("runs of random lengths straddling partition boundaries (multi-seed)") {
    for (seed <- Seq(42, 7, 1234, 99991)) {
      val rnd = new scala.util.Random(seed)
      val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
      var pos = 0L
      while (pos < 2000L) {
        val key = rnd.nextInt(6).toLong
        val len = 1 + rnd.nextInt(40)
        (0 until len).foreach { _ => rows += ((rnd.nextInt(2), key, pos)); pos += 1 }
      }
      // positions must be distinct per dir: renumber sequentially
      val clean = rows.zipWithIndex.map { case ((d, k, _), i) => (d, k, i.toLong) }
      check(df(clean.toSeq))
    }
  }

  test("result is invariant to the shuffle partition count") {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 1500L).map(p => (rnd.nextInt(2), rnd.nextInt(4).toLong, p))
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val results = Seq("1", "3", "13").map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n)
        fused(df(rows))
      }
      assert(results.distinct.size == 1,
        "numbered ranges must not depend on partitioning")
      assert(results.head == windowed(df(rows)))
    } finally spark.conf.set("spark.sql.shuffle.partitions", conf)
  }

  test("single row and empty input") {
    check(df(Seq((1, 3L, 5L))))
    val (ranges, done) = RangeRle.numberedRanges(df(Seq.empty))
    assert(ranges.count() == 0)
    done()
  }

  test("adversarial shapes at width: giant chained run, edge flips, empty partitions") {
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (n <- Seq(8, 32)) {
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        // ALL rows one run: the boundary merge must chain-walk a single
        // continued run through every one of the n partitions
        check(df((0L until 256L).map(p => (0, 7L, p))))
        // dir alternating in blocks sized to the partition width: after
        // the range sort this is per-dir runs with gaps at every block
        // edge, and the dir 0→1 flip lands inside the sorted order
        val block = 256 / n
        check(df((0L until 256L).map(p => ((p / block % 2).toInt, 9L, p))))
        // single-row runs at every partition edge (node flips per row)
        check(df((0L until 256L).map(p => (0, p % 2, p))))
        // far more partitions than rows: empty partitions threaded
        // through the driver walk's None branch
        check(df((0L until 10L).map(p => (0, 7L, p))))
        check(df(Seq((0, 1L, 0L), (1, 1L, 0L))))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", conf)
  }

  test("gap inside a key splits the run") {
    // key 1: pos 0,1,2 then 10,11 → two ranges
    check(df(Seq((0, 1L, 0L), (0, 1L, 1L), (0, 1L, 2L), (0, 1L, 10L), (0, 1L, 11L),
      (0, 2L, 3L), (0, 2L, 4L))))
  }
}
