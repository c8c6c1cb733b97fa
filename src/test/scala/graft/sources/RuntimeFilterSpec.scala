package graft.sources

import org.apache.spark.sql.sources
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** SupportsRuntimeFiltering on the touch V2 source: a runtime `IN` on
  * `source_node_id` (what dynamic pruning delivers when the scan sits
  * under a join) must shrink the PLANNED record ranges through the same
  * interval algebra as the static pushdown — and an uninterpretable
  * filter must change nothing. Direct Scan-API test (the deterministic
  * face of the contract; Spark invokes `filter` from its dynamic
  * pruning machinery at execution time).
  */
class RuntimeFilterSpec extends AnyFunSuite {

  /** 6 gid blocks × 10 records (v1 layout + companion index) — the
    * TouchDataSourceSpec pushdown fixture, locally rebuilt because this
    * spec needs package-private Scan access.
    */
  private lazy val fixturePath: String = {
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = java.nio.file.Paths.get(graft.io.TempDirs.create("touch_runtime_filter"))
    val nGids = 6; val per = 10; val rec = 40
    val data = ByteBuffer.allocate(nGids * per * rec).order(ByteOrder.LITTLE_ENDIAN)
    for (g <- 0 until nGids; k <- 0 until per) {
      data.putInt(100 + g).putInt(1).putInt(k)
      data.putInt(200 + g).putInt(2).putInt(k)
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

  private def freshScan(): TouchScan = {
    val table = new TouchTable(fixturePath,
      TouchDataSource.indexedDataFiles(fixturePath), maxBytesPerPartition = 1L << 26)
    table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[TouchScan]
  }

  private def plannedRecords(s: TouchScan): Long =
    s.planInputPartitions().map(_.asInstanceOf[TouchSplit].numRecords).sum

  test("runtime IN prunes planned records; garbage filters are ignored") {
    val full = plannedRecords(freshScan())
    assert(full == 60L)

    // runtime IN {102, 104} → exactly those two neuron blocks planned
    val scan = freshScan()
    scan.filter(Array[sources.Filter](
      sources.In("source_node_id", Array(102, 104))))
    assert(plannedRecords(scan) == 20L,
      "runtime IN must plan exactly the two matching neuron blocks")

    // a filter on another column is uninterpretable → no-op
    val scan2 = freshScan()
    scan2.filter(Array[sources.Filter](sources.EqualTo("target_node_id", 1L)))
    assert(plannedRecords(scan2) == full, "unusable runtime filter must not prune")

    // successive runtime filters INTERSECT, never widen
    val scan3 = freshScan()
    scan3.filter(Array[sources.Filter](
      sources.In("source_node_id", Array(102))))
    scan3.filter(Array[sources.Filter](
      sources.GreaterThan("source_node_id", 102L)))
    assert(plannedRecords(scan3) == 0L, "IN {g} ∩ (> g) is provably empty")

    // the scan advertises the join attribute dynamic pruning keys on
    assert(freshScan().filterAttributes()
      .map(_.fieldNames.mkString(".")).toSeq == Seq("source_node_id"))
  }

  test("reported statistics track the pruned record total exactly") {
    val scan = freshScan()
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == 60L)
    assert(st.sizeInBytes().getAsLong == 60L * 40)
    scan.filter(Array[sources.Filter](
      sources.In("source_node_id", Array(103))))
    val pruned = scan.estimateStatistics()
    assert(pruned.numRows().getAsLong == 10L, "stats must follow runtime pruning")
    assert(pruned.sizeInBytes().getAsLong == 10L * 40)
  }
}
