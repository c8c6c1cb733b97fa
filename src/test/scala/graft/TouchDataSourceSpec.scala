package graft

import graft.pipelines.TouchToParquet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 touch connector: values must match the independent
  * reader `tools/touchcheck.py` bit-for-bit on every fixture version,
  * column pruning must reach the scan, and record-aligned splits must
  * not change results.
  */
class TouchDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** `full`'s rows whose source gid passes `keep`, filtered on the
    * driver: the reference for a pushed gid predicate.
    */
  private def rowsWhere(full: org.apache.spark.sql.DataFrame)(keep: Int => Boolean): Seq[String] =
    full.collect().filter(r => keep(r.getAs[Int]("source_node_id")))
      .map(_.toSeq.mkString("|")).sorted.toSeq

  /** The v3 output columns, in order; v1 and v2 are its first 11 and 22.
    * Written out here, not derived from `TouchModel.Layout`, so a change
    * to a column's type or position fails this spec.
    */
  private val v3Schema: Seq[(String, DataType)] = Seq(
    "synapse_id" -> LongType,
    "source_node_id" -> IntegerType,
    "target_node_id" -> IntegerType,
    "efferent_section_id" -> ShortType,
    "efferent_segment_id" -> ShortType,
    "afferent_section_id" -> ShortType,
    "afferent_segment_id" -> ShortType,
    "efferent_segment_offset" -> FloatType,
    "afferent_segment_offset" -> FloatType,
    "distance_soma" -> FloatType,
    "branch_order" -> ByteType,
    "efferent_section_pos" -> FloatType,
    "afferent_section_pos" -> FloatType,
    "efferent_surface_x" -> FloatType,
    "efferent_surface_y" -> FloatType,
    "efferent_surface_z" -> FloatType,
    "afferent_center_x" -> FloatType,
    "afferent_center_y" -> FloatType,
    "afferent_center_z" -> FloatType,
    "spine_length" -> FloatType,
    "efferent_section_type" -> ByteType,
    "afferent_section_type" -> ByteType,
    "efferent_center_x" -> FloatType,
    "efferent_center_y" -> FloatType,
    "efferent_center_z" -> FloatType,
    "afferent_surface_x" -> FloatType,
    "afferent_surface_y" -> FloatType,
    "afferent_surface_z" -> FloatType)

  test("v1/v2/v3 fixtures decode identically to touchcheck.py") {
    for ((v, width) <- Seq(1 -> 11, 2 -> 22, 3 -> 28)) {
      val path = TouchToParquet.fixturePath(v)
      val df = spark.read.format("touchbin").load(path)
      // touchcheck.py prints no types, so the schema is pinned here
      assert(df.schema.map(f => (f.name, f.dataType)) == v3Schema.take(width),
        s"v$v schema")
      // one split, so collect() keeps file order
      val got = ToolCheck.rendered(df)
      val want = ToolCheck.touchRows(path)
      assert(got.length == want.length, s"v$v row count")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"v$v row $i") }
    }
  }

  test("column pruning reaches the scan (2 of 22 fields decoded)") {
    val df = spark.read.format("touchbin").load(TouchToParquet.fixturePath(2))
      .select("source_node_id", "distance_soma")
    df.collect()
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    assert(leaves.head.schema.fieldNames.toSeq ==
      Seq("source_node_id", "distance_soma"),
      s"scan must emit only the pruned columns: ${leaves.head.schema}")
  }

  test("record-aligned splits: many partitions, identical results") {
    val path = TouchToParquet.fixturePath(2)
    val df = spark.read.format("touchbin")
      .option("maxBytesPerPartition", (80 * 100).toString) // 100 records/split
      .load(path)
    assert(df.rdd.getNumPartitions > 5, s"${df.rdd.getNumPartitions} partitions")
    assert(rows(df) == rows(spark.read.format("touchbin").load(path)))
  }

  private def copyFixture(version: Int, dir: java.nio.file.Path, suffix: Int): Unit = {
    val src = java.nio.file.Paths.get(TouchToParquet.fixturePath(version)).getParent
    java.nio.file.Files.copy(src.resolve("touchesData.0"), dir.resolve(s"touchesData.$suffix"))
    java.nio.file.Files.copy(src.resolve("touches.0"), dir.resolve(s"touches.$suffix"))
  }

  test("directory scan: 3 same-version files, sorted listing, splits straddling files") {
    val dir = java.nio.file.Paths.get(graft.io.TempDirs.create("touch_dir_ok"))
    Seq(2, 0, 1).foreach(copyFixture(2, dir, _)) // created out of name order
    val files = graft.sources.TouchDataSource.resolveDataFiles(dir.toString)
    assert(files.map(f => new java.io.File(f._1).getName) ==
      Seq("touchesData.0", "touchesData.1", "touchesData.2"),
      "directory listing must be name-sorted and data-files-only")
    // the three copies share one gid range, so a synapse_id projection
    // must be rejected (ids would collide across files)…
    val full = spark.read.format("touchbin")
      .option("maxBytesPerPartition", (80 * 100).toString) // 100 records/split
      .load(dir.toString)
    val e = intercept[Exception] { full.collect() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("gid ranges overlap"), msgs)
    // …while a projection WITHOUT synapse_id scans them freely
    val noId = full.drop("synapse_id")
    assert(noId.rdd.getNumPartitions > 3 * 5,
      s"expected >5 splits per file across 3 files, got ${noId.rdd.getNumPartitions}")
    val single = rows(spark.read.format("touchbin").load(TouchToParquet.fixturePath(2))
      .drop("synapse_id"))
    assert(rows(noId) == (single ++ single ++ single).sorted,
      "directory read must union every file's decode (multiset equality)")
  }

  test("directory scan rejects a schema-version mix (parquet2hdf5 agreement rule)") {
    val dir = java.nio.file.Paths.get(graft.io.TempDirs.create("touch_dir_mix"))
    copyFixture(2, dir, 0)
    copyFixture(3, dir, 1)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("touchbin").load(dir.toString)
    }
    assert(e.getMessage.contains("disagree on schema version"), e.getMessage)
  }

  /** Synthetic v1 file with `nGids` contiguous per-gid blocks of `per`
    * records each (gids 100, 101, …), plus a faithful companion index —
    * the multi-neuron shape the reference's `seek()` navigates, which
    * the single-gid fixtures can't exercise.
    */
  private def writeMultiGidFixture(nGids: Int, per: Int): String = {
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = java.nio.file.Paths.get(graft.io.TempDirs.create("touch_gid_push"))
    val rec = 40 // v1 record size
    val data = ByteBuffer.allocate(nGids * per * rec).order(ByteOrder.LITTLE_ENDIAN)
    for (g <- 0 until nGids; k <- 0 until per) {
      data.putInt(100 + g).putInt(1).putInt(k)   // pre: gid, section, segment
      data.putInt(200 + g).putInt(2).putInt(k)   // post
      data.putInt(1).putFloat(1f).putFloat(0.5f).putFloat(0.5f)
    }
    java.nio.file.Files.write(dir.resolve("touchesData.0"), data.array())
    val idx = ByteBuffer.allocate(32 + nGids * 16).order(ByteOrder.LITTLE_ENDIAN)
    idx.putDouble(1.001).putLong(nGids)
    idx.put("1.0.0".getBytes("US-ASCII")); idx.position(32)
    for (g <- 0 until nGids)
      idx.putInt(100 + g).putInt(per).putLong(g.toLong * per * rec)
    java.nio.file.Files.write(dir.resolve("touches.0"), idx.array())
    dir.resolve("touchesData.0").toString
  }

  test("gid-range pushdown prunes splits via the index, results identical") {
    import org.apache.spark.sql.functions.col
    val path = writeMultiGidFixture(nGids = 6, per = 10)
    def read() = spark.read.format("touchbin")
      .option("maxBytesPerPartition", (40 * 10).toString) // 10 records/split
      .load(path)
    val full = read()
    assert(full.rdd.getNumPartitions == 6, "one split per gid block")
    // the predicate covers 2 of 6 gid blocks → 2 planned splits, the
    // Spark face of the reference's per-neuron seek (touch_reader.cpp:196-228)
    val pred = col("source_node_id") >= 102 && col("source_node_id") <= 103
    val pruned = read().filter(pred)
    assert(ScanPlans.splits(pruned) == 2,
      s"index pruning must plan only matching record ranges, got ${ScanPlans.splits(pruned)}")
    assert(ScanPlans.description(pruned).contains("PushedGidRange"), ScanPlans.description(pruned))
    // identical rows to the full scan filtered on the driver —
    // including synapse_id, whose global row positions must stay
    // absolute under pruned split plans
    assert(rows(pruned) == rowsWhere(full)(g => g >= 102 && g <= 103))
    val ids = pruned.select("synapse_id", "source_node_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(ids == (for (g <- 102 to 103; k <- 0 until 10)
      yield ((g.toLong << 24) + k, g)).sorted,
      "synapse ids must keep absolute row positions under pruning")
    // a range outside every indexed gid plans ZERO splits
    assert(read().filter(col("source_node_id") > 1000).count() == 0)
    // equality and one-sided predicates prune too
    assert(ScanPlans.splits(read().filter(col("source_node_id") === 100)) == 1)
    assert(ScanPlans.splits(read().filter(col("source_node_id") > 103)) == 2)
    // UPPER-bound-only predicates (lo = Long.MinValue internally) must
    // not crash split planning (round-7 advice: the raw subtraction
    // wrapped) and must prune to the leading blocks
    val upper = read().filter(col("source_node_id") <= 101)
    assert(ScanPlans.splits(upper) == 2, s"got ${ScanPlans.splits(upper)}")
    assert(rows(upper) == rowsWhere(full)(_ <= 101))
    assert(ScanPlans.splits(read().filter(col("source_node_id") < 101)) == 1)
  }

  test("multi-range pushdown: IN / OR plan one record range per gid interval") {
    import org.apache.spark.sql.functions.col
    val path = writeMultiGidFixture(nGids = 6, per = 10)
    def read() = spark.read.format("touchbin")
      .option("maxBytesPerPartition", (40 * 10).toString) // 10 records/split
      .load(path)
    val full = read()
    // scattered gids — first and last blocks — must plan 2 small
    // ranges, not the 6-block hull (the reference seeks per neuron,
    // touch_reader.cpp:196-228)
    val inPred = col("source_node_id").isin(100, 105)
    val pruned = read().filter(inPred)
    assert(ScanPlans.splits(pruned) == 2,
      s"IN (first, last) must plan 2 ranges, got ${ScanPlans.splits(pruned)}")
    assert(ScanPlans.description(pruned).contains("PushedGidRanges"), ScanPlans.description(pruned))
    assert(rows(pruned) == rowsWhere(full)(Set(100, 105)))
    // OR of two ranges prunes the gap between them
    val orPred = (col("source_node_id") === 100) || (col("source_node_id") >= 104)
    val orScan = read().filter(orPred)
    assert(ScanPlans.splits(orScan) == 3, // 1 block + 2 blocks
      s"got ${ScanPlans.splits(orScan)}")
    assert(rows(orScan) == rowsWhere(full)(g => g == 100 || g >= 104))
    // ADJACENT gid values merge into one contiguous record range
    // (2 blocks of 10 records → 2 splits at 10 records/split, but ONE
    // merged range — no duplicate planning at the seam)
    val adj = read().filter(col("source_node_id").isin(102, 103))
    assert(ScanPlans.splits(adj) == 2, s"got ${ScanPlans.splits(adj)}")
    assert(rows(adj) == rowsWhere(full)(Set(102, 103)))
    // conjunction of an IN with a range intersects interval sets
    val both = read().filter(col("source_node_id").isin(100, 103, 105) &&
      col("source_node_id") >= 103)
    assert(ScanPlans.splits(both) == 2, s"got ${ScanPlans.splits(both)}")
    assert(rows(both) == rowsWhere(full)(g => Set(100, 103, 105)(g) && g >= 103))
    // synapse ids keep absolute row positions under multi-range pruning
    val ids = pruned.select("synapse_id", "source_node_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(ids == (for (g <- Seq(100, 105); k <- 0 until 10)
      yield ((g.toLong << 24) + k, g)).sorted)
  }

  test("metadata-only count and limit pushdown") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val path = writeMultiGidFixture(nGids = 6, per = 10)
    def read() = spark.read.format("touchbin")
      .option("maxBytesPerPartition", (40 * 10).toString) // 10 records/split
      .load(path)

    // ungrouped unfiltered count(*): answered from file lengths — the
    // plan carries the metadata-only count scan, one split per FILE
    // (not per 10-record chunk), and the value matches the full scan
    val cnt = read().agg(count(lit(1)).as("n"))
    assert(cnt.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      cnt.queryExecution.executedPlan.toString)
    assert(cnt.collect().head.getLong(0) == 60L)
    // count(col) of a non-nullable touch column pushes too
    val cntCol = read().agg(count(col("source_node_id")))
    assert(cntCol.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      cntCol.queryExecution.executedPlan.toString)
    assert(cntCol.collect().head.getLong(0) == 60L)
    // count DISTINCT must NOT push (not answerable from lengths)
    val cntDist = read().select(col("source_node_id")).distinct().count()
    assert(cntDist == 6L)
    // a FILTERED count takes the pruned-scan path (the source refuses
    // COUNT over pushed gid predicates: file lengths count planned
    // records, before the reader's exact gid check)
    val filtered = read().filter(col("source_node_id") <= 101).agg(count(lit(1)))
    assert(ScanPlans.description(filtered).contains("PushedGidRanges") &&
      !ScanPlans.description(filtered).contains("PushedAggregates"), ScanPlans.description(filtered))
    assert(filtered.collect().head.getLong(0) == 20L)

    // limit pushdown: limit 15 plans only the covering splits and trims
    // the record total; rows come from the file head (gids 100-101)
    val lim = read().limit(15)
    assert(lim.queryExecution.executedPlan.toString.contains("PushedLimit: 15"),
      lim.queryExecution.executedPlan.toString)
    val got = lim.collect()
    assert(got.length == 15)
    assert(got.map(_.getAs[Int]("source_node_id")).forall(g => g == 100 || g == 101))
  }

  /** Per-gid record counts of the batch-boundary pair (gids 500, 501,
    * …): the 3rd block spans records 4000-4299 and the 6th 8100-8299,
    * so both 4096-record batch boundaries fall inside a gid block.
    */
  private val boundaryCounts = Seq(1500, 2500, 300, 1700, 2100, 200, 1700, 37)

  /** A truthful v3 pair of 10,037 records in the given byte order. */
  private def writeBoundaryPair(order: java.nio.ByteOrder): String = {
    val blocks = boundaryCounts.zipWithIndex.map { case (c, i) => (500 + i, c) }
    TouchPairs.writeV3(order, blocks, TouchPairs.entriesOf(blocks))
  }

  private lazy val boundaryPairs = Seq(java.nio.ByteOrder.LITTLE_ENDIAN, java.nio.ByteOrder.BIG_ENDIAN)
    .map(o => o -> writeBoundaryPair(o))

  /** The frame is decoded by the touchbin scan's column batches, not by
    * a row reader: Spark's `ColumnarToRow` runs over the scan, or, for a
    * read on the driver, a `LocalTableScan` holds the rows of a batch
    * scan that reads column batches only.
    */
  private def assertColumnar(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, LocalTableScanExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plan = df.queryExecution.executedPlan
    if (ScanPlans.onDriver(df)) {
      val scan = ScanPlans.scans(df).collect { case d: graft.sources.DriverScan => d.batch }
      assert(scan.length == 1 && scan.head.description().startsWith("touchbin ") &&
        scan.head.columnarSupportMode() == ColumnarSupportMode.SUPPORTED, ScanPlans.description(df))
      assert(plan.collect { case l: LocalTableScanExec => l }.length == 1, s"no LocalTableScan:\n$plan")
    } else
      // whole-stage codegen puts an InputAdapter between the two
      assert(plan.collect { case c: ColumnarToRowExec => c.child }.exists {
        case InputAdapter(b: BatchScanExec) => b.scan.description().startsWith("touchbin ")
        case _ => false
      }, s"no ColumnarToRow over the touchbin scan:\n$plan")
  }

  test("batch boundaries: a single-split read equals touchcheck.py in both byte orders") {
    for ((order, path) <- boundaryPairs) {
      val df = spark.read.format("touchbin").load(path)
      assert(df.rdd.getNumPartitions == 1, s"$order")
      assertColumnar(df)
      val got = ToolCheck.rendered(df)
      val want = ToolCheck.touchRows(path)
      assert(got.length == 10037 && want.length == 10037, s"$order row count")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"$order row $i") }
    }
  }

  test("batch boundaries: mid-batch splits, gid IN and limit match the single-split read") {
    import org.apache.spark.sql.functions.col
    for ((order, path) <- boundaryPairs) {
      def read(recordsPerSplit: Int = 1 << 20) = spark.read.format("touchbin")
        .option("maxBytesPerPartition", (104L * recordsPerSplit).toString).load(path)
      val single = ToolCheck.rendered(read())
      for (perSplit <- Seq(1000, 5000)) {
        val df = read(perSplit)
        assert(df.rdd.getNumPartitions == (10037 + perSplit - 1) / perSplit, s"$order $perSplit")
        assertColumnar(df)
        assert(ToolCheck.rendered(df).sorted == single.sorted, s"$order $perSplit records/split")
      }
      // blocks 501, 502 and 505 start at records 1500, 4000 and 8100,
      // inside the first, the first and the second batch of the file
      val gids = Seq(501, 502, 505)
      val in = read().filter(col("source_node_id").isin(gids: _*))
      assert(ScanPlans.description(in).contains("PushedGidRanges"), ScanPlans.description(in))
      assertColumnar(in)
      assert(ToolCheck.rendered(in).sorted ==
        single.filter(r => gids.contains(r.split('|')(1).toInt)).sorted, s"$order IN")
      // a limit reads the head of the file across the first batch boundary
      val lim = read().limit(5000)
      assertColumnar(lim)
      assert(ToolCheck.rendered(lim).sorted == single.take(5000).sorted, s"$order limit")
    }
  }

  test("truncated data file fails loudly at split planning") {
    val dir = java.nio.file.Paths.get(graft.io.TempDirs.create("touch_dir_trunc"))
    copyFixture(2, dir, 0)
    val data = dir.resolve("touchesData.0")
    val ch = java.nio.channels.FileChannel.open(data,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(java.nio.file.Files.size(data) - 7)
    finally ch.close()
    val df = spark.read.format("touchbin").load(data.toString)
    val e = intercept[Exception] { df.collect() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("not a multiple"), msgs)
  }
}
