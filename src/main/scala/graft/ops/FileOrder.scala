package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** L2 `sort_files` — the reference's FILE-ORDER row positions: its
  * global row order is "parquet files sorted by filename × row order
  * within each file" (src/parquet2hdf5.cpp:236 sorts the directory
  * listing; 97-110 assigns each file's rows a global offset = exclusive
  * prefix sum of earlier files' row counts; SURVEY.md §1.5.2 "row order
  * is load-bearing").
  *
  * Spark-first: `input_file_name()` recovers each row's file, and
  * `Offsets.globalPositionGrouped` with the FILENAME as the group
  * yields both the global file-ordered position and the row's position
  * within its file — the per-file offset table is exactly the grouped
  * stamp's group starts, walked on the driver from one summary per
  * partition. One range shuffle over (file, innerOrd), no per-file
  * jobs, no cache, scales to any number of files.
  */
object FileOrder {

  /** Ordered union of every parquet file in `dir`: rows positioned by
    * (lexicographic filename, `innerOrd` within the file). `innerOrd`
    * must totally order rows WITHIN each file (the relational stand-in
    * for physical row order, which a columnar engine may not preserve
    * across splits). Emits `pos` (global) and `pos_in_file`.
    */
  def fileOrderedUnion(spark: SparkSession, dir: String, innerOrd: Seq[Column]): DataFrame = {
    val df = spark.read.parquet(dir).withColumn("_file", input_file_name())
    Offsets.globalPositionGrouped(df, "_file", col("_file") +: innerOrd, "pos", "pos_in_file")
      .drop("_file")
  }

  /** Fixture: split `orders` keys into three parquet FILES in one temp
    * directory whose filename order deliberately differs from key order
    * (file f00 holds keys ≡2 mod 3, f01 holds ≡0, f02 holds ≡1), each
    * file sorted by key — mirroring the reference's multi-file input
    * layout (tests/test_integration.py:49-61).
    */
  private def splitFixture(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Paths.get(graft.io.TempDirs.create("fileunion"))
    val orders = Tables.orders(spark, dir).select(col("o_orderkey"))
    Seq(2, 0, 1).zipWithIndex.foreach { case (m, i) =>
      val sub = tmp.resolve(s"sub_$i")
      orders.filter(pmod(col("o_orderkey"), lit(3)) === m)
        .coalesce(1).sortWithinPartitions(col("o_orderkey"))
        .write.mode("overwrite").parquet(sub.toString)
      val listing = Files.list(sub)
      val part =
        try listing.filter(p =>
          p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".parquet")).findFirst.get
        finally listing.close()
      Files.move(part, tmp.resolve(f"f$i%02d.parquet"))
      Files.walk(sub).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
    tmp.toString
  }

  val queries: Map[String, Q] = Map(
    "file_ordered_union" -> ((s, dir) =>
      fileOrderedUnion(s, splitFixture(s, dir), Seq(col("o_orderkey"))))
  )

  val oracleSql: Map[String, String] = Map(
    // file index reconstructed from the key-residue split: f00 ← k%3=2,
    // f01 ← k%3=0, f02 ← k%3=1
    "file_ordered_union" ->
      """WITH f AS (
        |  SELECT o_orderkey,
        |    CASE o_orderkey % 3 WHEN 2 THEN 0 WHEN 0 THEN 1 ELSE 2 END AS file_idx
        |  FROM orders)
        |SELECT o_orderkey,
        |  ROW_NUMBER() OVER (ORDER BY file_idx, o_orderkey) - 1 AS pos,
        |  ROW_NUMBER() OVER (PARTITION BY file_idx ORDER BY o_orderkey) - 1 AS pos_in_file
        |FROM f""".stripMargin
  )
}
