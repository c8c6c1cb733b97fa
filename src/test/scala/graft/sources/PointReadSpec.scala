package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.{ScanPlans, SparkJobs, SparkTestSession, ToolCheck, TouchPairs}
import graft.io.Hdf5Mini
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** Point reads: `touchbin` gid predicates and `sonatah5` edge_id
  * predicates are evaluated exactly in the scan, so no residual
  * `Filter` runs above it and a new key set compiles no new code;
  * results stay exact even under an index that lies about its blocks.
  * A point read whose planned input fits `DriverScan.MaxBytes` is read
  * on the driver with the job path's reader: the same rows and the same
  * faults, without a Spark job.
  */
class PointReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  private val golden = "src/test/resources/golden_sonata.h5"

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def filterNodes(df: DataFrame): Seq[FilterExec] =
    plan(df).collect { case f: FilterExec => f }

  private def scanDescription(df: DataFrame): String = ScanPlans.description(df)

  /** Every node of the executed plan, through adaptive plans and their
    * query stages.
    */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => q +: all(q.plan)
      case _ => p +: p.children.flatMap(all)
    }
    all(df.queryExecution.executedPlan)
  }

  private def batchScans(df: DataFrame): Seq[BatchScanExec] =
    nodes(df).collect { case b: BatchScanExec => b }

  private def localScans(df: DataFrame): Seq[LocalTableScanExec] =
    nodes(df).collect { case l: LocalTableScanExec => l }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** Broadcasts made while `body` runs: each probe broadcast takes the
    * next id, so the ids of two probes differ by one plus those made
    * between them.
    */
  private def broadcastsDuring(body: => Unit): Long = {
    val sc = spark.sparkContext
    def probe(): Long = { val b = sc.broadcast(0); b.destroy(); b.id }
    val before = probe()
    body
    probe() - before - 1
  }

  /** Gid 5's index entry claims 65 records from its true start, so its
    * planned range also holds the first 25 records of gid 6.
    */
  private lazy val lyingPair = TouchPairs.writeV3(ByteOrder.LITTLE_ENDIAN,
    blocks = Seq(4 -> 30, 5 -> 40, 6 -> 50, 7 -> 20),
    entries = Seq((4, 30, 0L), (5, 65, 30L), (6, 50, 70L), (7, 20, 120L)))

  private def gidOf(row: String): Int = row.split('|')(1).toInt

  test("a lying index: gid reads, their count and limit return exactly the true rows") {
    // 16 records per split: splits that mix gids 5 and 6, and splits of gid 6 only
    def read() = spark.read.format("touchbin")
      .option("maxBytesPerPartition", (104 * 16).toString).load(lyingPair)
    val truth = ToolCheck.touchRows(lyingPair)
    for (gids <- Seq(Seq(5), Seq(5, 7))) {
      val want = truth.filter(r => gids.contains(gidOf(r)))
      assert(want.length == (if (gids == Seq(5)) 40 else 60))
      val df = read().filter(col("source_node_id").isin(gids: _*))
      assert(ToolCheck.rendered(df).sorted == want.sorted, s"rows of $gids")
      assert(filterNodes(df).isEmpty, plan(df).toString)
      // the planned range holds gid-6 records, so COUNT and LIMIT must
      // not be answered from planned records
      val cnt = df.groupBy().count()
      assert(scanDescription(cnt).contains("PushedGidRanges") &&
        !scanDescription(cnt).contains("PushedAggregates"), scanDescription(cnt))
      assert(cnt.head().getLong(0) == want.length, s"count of $gids")
      assert(df.count() == want.length)
      for (k <- Seq(10, 45, 1000)) {
        val lim = df.limit(k)
        assert(scanDescription(lim).contains("PushedGidRanges") &&
          !scanDescription(lim).contains("PushedLimit"), scanDescription(lim))
        val got = ToolCheck.rendered(lim)
        assert(got.length == math.min(k, want.length), s"limit $k of $gids")
        assert(got.toSet.subsetOf(want.toSet), s"limit $k of $gids")
      }
    }
    // the check reads the gid word from the record, so it holds when
    // source_node_id is pruned from the output
    val ids = read().filter(col("source_node_id") === 5).select("synapse_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == truth.filter(gidOf(_) == 5).map(_.split('|')(0).toLong).sorted)
  }

  test("a mixed predicate keeps only its non-key part as a Filter") {
    val truth = ToolCheck.touchRows(lyingPair)
    val touch = spark.read.format("touchbin").load(lyingPair)
      .filter(col("source_node_id").isin(4, 6) &&
        col("target_node_id") > 20020 && col("target_node_id") < 20100)
    val fs = filterNodes(touch)
    assert(fs.length == 1 && fs.head.condition.references.map(_.name).toSet ==
      Set("target_node_id"), plan(touch).toString)
    val want = truth.filter { r =>
      val target = r.split('|')(2).toInt
      Set(4, 6).contains(gidOf(r)) && target > 20020 && target < 20100
    }
    assert(want.map(gidOf).distinct.sorted == Seq(4, 6))
    assert(ToolCheck.rendered(touch).sorted == want.sorted)

    val edges = spark.read.format("sonatah5").load(golden)
      .filter(col("edge_id") < 5L && col("source_node_id") === 1L).select("edge_id")
    val hs = filterNodes(edges)
    assert(hs.length == 1 && hs.head.condition.references.map(_.name).toSet ==
      Set("source_node_id"), plan(edges).toString)
    assert(edges.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("sonatah5 edge_id ranges, IN and OR: rows, count and limit equal a driver-side slice") {
    val all = spark.read.format("sonatah5").load(golden).collect()
      .sortBy(_.getAs[Long]("edge_id")).toSeq
    assert(all.length == 6)
    val id = col("edge_id")
    for ((pred, keep) <- Seq[(org.apache.spark.sql.Column, Long => Boolean)](
        (id >= 2L && id < 5L, e => e >= 2 && e < 5),
        (id >= 4L && id < 100L, e => e >= 4),
        (id < 0L, _ => false),
        (id.isin(0L, 5L, 9L), e => e == 0 || e == 5),
        (id <= 1L || id >= 4L, e => e <= 1 || e >= 4))) {
      val want = all.filter(r => keep(r.getAs[Long]("edge_id")))
      val df = spark.read.format("sonatah5").load(golden).filter(pred)
      assert(df.collect().sortBy(_.getAs[Long]("edge_id")).toSeq == want, s"$pred")
      assert(filterNodes(df).isEmpty, plan(df).toString)
      assert(df.count() == want.length, s"count $pred")
      // every planned row matches, so COUNT is answered from the ranges
      val cnt = df.groupBy().count()
      assert(scanDescription(cnt).contains("metadata-only"), scanDescription(cnt))
      assert(cnt.head().getLong(0) == want.length, s"count $pred")
      for (k <- Seq(1, 2, 10)) {
        val got = df.limit(k).collect()
        assert(got.length == math.min(k, want.length) && got.toSet.subsetOf(want.toSet),
          s"limit $k $pred")
      }
    }
  }

  test("key-only lookups plan no Filter and compile nothing new for new keys") {
    val touchPath = lyingPair
    def touchLookup(gids: Int*) = spark.read.format("touchbin").load(touchPath)
      .filter(col("source_node_id").isin(gids: _*))
      .select("source_node_id", "synapse_id", "target_node_id", "distance_soma")
    def edgeLookup(lo: Long) = spark.read.format("sonatah5").load(golden)
      .filter(col("edge_id") >= lo && col("edge_id") < lo + 2)
      .select("edge_id", "source_node_id", "target_node_id")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    for ((first, second) <- Seq(
        (() => touchLookup(4, 6), () => touchLookup(5, 7)),
        (() => edgeLookup(1L), () => edgeLookup(3L)))) {
      val warm = first()
      assert(warm.collect().nonEmpty)
      val before = compiles.getCount
      val next = second()
      assert(next.collect().nonEmpty)
      assert(compiles.getCount - before == 0,
        s"a lookup with new keys compiled ${compiles.getCount - before} classes")
      assert(filterNodes(warm).isEmpty, plan(warm).toString)
      assert(filterNodes(next).isEmpty, plan(next).toString)
    }
  }

  test("the touch reader factory carries a broadcast conf, not the conf itself") {
    // an unfiltered scan runs as a job, and so broadcasts its conf
    val df = spark.read.format("touchbin").load(lyingPair)
    val scan = batchScans(df).map(_.scan).head.asInstanceOf[TouchScan]
    val factory = scan.createReaderFactory().asInstanceOf[TouchReaderFactory]
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(factory)
    out.close()
    assert(bytes.size < 4096, s"serialized TouchReaderFactory is ${bytes.size} bytes")
    // a broadcast value goes through spark.serializer, which may be Kryo
    val kryo = new org.apache.spark.serializer.KryoSerializer(spark.sparkContext.getConf)
      .newInstance()
    val back = kryo.deserialize[AnyRef](kryo.serialize[AnyRef](factory.conf.value))
      .asInstanceOf[org.apache.spark.util.SerializableConfiguration]
    assert(back.value != null && back.value.get("fs.defaultFS") ==
      factory.conf.value.value.get("fs.defaultFS"))
  }

  test("one metadata pass per load: getTable reuses what inferSchema read") {
    val touch = new TouchDataSource
    val touchOpts = new CaseInsensitiveStringMap(java.util.Map.of("path", lyingPair))
    touch.inferSchema(touchOpts)
    val table = touch.getTable(null, Array.empty, touchOpts.asCaseSensitiveMap())
      .asInstanceOf[TouchTable]
    assert(table.indexed eq touch.inferred.get._2)

    val h5 = new Hdf5DataSource
    val h5Opts = new CaseInsensitiveStringMap(java.util.Map.of("path", golden))
    h5.inferSchema(h5Opts)
    val h5Table = h5.getTable(null, Array.empty, h5Opts.asCaseSensitiveMap())
      .asInstanceOf[Hdf5Table]
    assert(h5Table.layout eq h5.inferred.get._2)
  }

  /** A SONATA edge container of `n` rows with two I32 columns:
    * source_node_id = i / 8 and target_node_id = i % 1000.
    */
  private def writeEdges(n: Int): String = {
    import Hdf5Mini.{DatasetSpec, GroupSpec, I32}
    val path = graft.io.TempDirs.create("point_h5") + "/edges.h5"
    val regions = Hdf5Mini.write(path, GroupSpec("", groups = Seq(GroupSpec("edges",
      groups = Seq(GroupSpec("pop", datasets = Seq(
        DatasetSpec("source_node_id", I32, Seq(n.toLong)),
        DatasetSpec("target_node_id", I32, Seq(n.toLong)))))))))
    for ((name, value) <- Seq[(String, Int => Int)]("source_node_id" -> (_ / 8), "target_node_id" -> (_ % 1000))) {
      val bb = ByteBuffer.allocate(4 * n).order(ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => bb.putInt(value(i)))
      Hdf5Mini.fill(path, regions(s"/edges/pop/$name"), 0L, bb.array())
    }
    path
  }

  private lazy val edges10k = writeEdges(10000)

  /** The `neuron_lookup` benchmark's `.h5` read: 4096 consecutive edge
    * ids, three columns in the table's order.
    */
  private def edgeLookup(path: String, lo: Long) = spark.read.format("sonatah5").load(path)
    .filter(col("edge_id") >= lo && col("edge_id") < lo + 4096)
    .select("edge_id", "source_node_id", "target_node_id")

  test("the benchmark's .h5 lookup is read on the driver and starts no Spark job") {
    val lookup = edgeLookup(edges10k, 1234L)
    val (rows, jobs) = SparkJobs.counted(spark)(lookup.collect())
    assert(jobs == 0, s"$jobs jobs")
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq ==
      (1234 until 1234 + 4096).map(i => (i.toLong, i / 8, i % 1000)))
    assert(localScans(lookup).length == 1 && batchScans(lookup).isEmpty,
      lookup.queryExecution.executedPlan.toString)
    assert(scanDescription(lookup).contains("PushedEdgeIdRanges: [1234,5329]"), scanDescription(lookup))
  }

  test("the benchmark's touch lookup is read on the driver with no broadcast") {
    val truth = ToolCheck.touchRows(lyingPair)
    val lookup = spark.read.format("touchbin").load(lyingPair)
      .filter(col("source_node_id").isin(4, 6, 7))
      .select("source_node_id", "synapse_id", "target_node_id", "distance_soma")
    // planning reads the rows
    assert(broadcastsDuring(lookup.queryExecution.executedPlan) == 0)
    assert(localScans(lookup).length == 1 && batchScans(lookup).isEmpty,
      lookup.queryExecution.executedPlan.toString)
    val want = truth.filter(r => Set(4, 6, 7).contains(gidOf(r))).map { r =>
      val f = r.split('|')
      Seq(f(1), f(0), f(2), f(9)).mkString("|")
    }
    assert(want.length == 100)
    assert(ToolCheck.rendered(lookup).sorted == want.sorted)
  }

  /** Gid blocks 11, 12 and 13 of 100, 100 and 45,000 records
    * (4.7 MB); the lying index claims 45,100 records for gid 12, so a
    * read of gid 12 plans 4.69 MB, over `DriverScan.MaxBytes`, where the
    * truthful index plans 100 records. Gid 12 starts at record 100 in
    * both, so both give it the same synapse ids.
    */
  private val bigBlocks = Seq(11 -> 100, 12 -> 100, 13 -> 45000)
  private lazy val bigPair = TouchPairs.writeV3(ByteOrder.LITTLE_ENDIAN, bigBlocks,
    TouchPairs.entriesOf(bigBlocks))
  private lazy val bigLyingPair = TouchPairs.writeV3(ByteOrder.LITTLE_ENDIAN, bigBlocks,
    Seq((11, 100, 0L), (12, 45100, 100L), (13, 45000, 200L)))

  test("a gid read over the bound runs as a job and returns exactly touchcheck's rows") {
    assert(DriverScan.MaxBytes < 45100L * 104)
    val read = spark.read.format("touchbin").load(bigLyingPair).filter(col("source_node_id") === 12)
    assert(!ScanPlans.onDriver(read) && batchScans(read).length == 1, read.queryExecution.executedPlan.toString)
    assert(scanDescription(read).contains("PushedGidRanges: [12,12]"), scanDescription(read))
    val (rows, jobs) = SparkJobs.counted(spark)(ToolCheck.rendered(read))
    assert(jobs == 1, s"$jobs jobs")
    val want = ToolCheck.touchRows(bigLyingPair).filter(gidOf(_) == 12)
    assert(want.length == 100)
    assert(rows.sorted == want.sorted)
  }

  test("one key set gives the same rows on both sides of the bound") {
    def read(path: String) = spark.read.format("touchbin").load(path).filter(col("source_node_id") === 12)
    val (local, job) = (read(bigPair), read(bigLyingPair))
    assert(ScanPlans.onDriver(local) && localScans(local).length == 1 && batchScans(local).isEmpty)
    assert(!ScanPlans.onDriver(job) && batchScans(job).length == 1)
    val rows = ToolCheck.rendered(local).sorted
    assert(rows.length == 100)
    assert(rows == ToolCheck.rendered(job).sorted)
    assert(rows == ToolCheck.touchRows(bigPair).filter(gidOf(_) == 12).sorted)

    // the .h5 side: 280,000 edge ids plan 8 bytes a row with edge_id
    // alone (2.2 MB) and 16 with both columns (4.5 MB)
    val ids = spark.read.format("sonatah5").load(writeEdges(300000))
      .filter(col("edge_id") >= 10000L && col("edge_id") < 290000L)
    val narrow = ids.select("edge_id")
    assert(ScanPlans.onDriver(narrow) && !ScanPlans.onDriver(ids) && batchScans(ids).length == 1)
    val wide = ids.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    assert(wide == (10000 until 290000).map(i => (i.toLong, i / 8, i % 1000)))
    assert(narrow.collect().map(_.getLong(0)).toSeq == wide.map(_._1))
  }

  test("unfiltered scans and pushed counts stay Spark jobs") {
    val touch = spark.read.format("touchbin").load(lyingPair)
    val h5 = spark.read.format("sonatah5").load(edges10k)
    for (df <- Seq(touch, touch.groupBy().count(),
        h5, h5.groupBy().count(), h5.filter(col("edge_id") < 10L).groupBy().count())) {
      assert(!ScanPlans.onDriver(df) && batchScans(df).length == 1, df.queryExecution.executedPlan.toString)
      assert(df.collect().nonEmpty)
    }
    assert(scanDescription(touch.groupBy().count()).contains("PushedAggregates"))
    assert(scanDescription(h5.filter(col("edge_id") < 10L).groupBy().count()).contains("metadata-only"))
  }

  /** A copy of the pair of `data` in a new directory. */
  private def copyPair(data: String): String = {
    val dir = Paths.get(graft.io.TempDirs.create("touch_fault"))
    val src = Paths.get(data)
    Files.copy(src, dir.resolve("touchesData.0"))
    Files.copy(src.resolveSibling("touches.0"), dir.resolve("touches.0"))
    dir.resolve("touchesData.0").toString
  }

  /** Each key read of `path` fails naming `path` and `detail`; gid 12
    * is read on the driver and gid 13 as a job.
    */
  private def assertFaults(path: String, detail: String): Unit =
    for (gid <- Seq(12, 13)) {
      val df = spark.read.format("touchbin").load(path).filter(col("source_node_id") === gid)
      val e = intercept[Exception](df.collect())
      assert(messages(e).contains(s"$path: ") && messages(e).contains(detail), s"gid $gid: ${messages(e)}")
    }

  test("a touch data file that is not whole records fails both point reads naming the byte") {
    val cut = copyPair(bigPair)
    val ch = java.nio.channels.FileChannel.open(Paths.get(cut), StandardOpenOption.WRITE)
    try ch.truncate(45200L * 104 - 7) finally ch.close()
    assertFaults(cut, s"partial record at byte ${45199L * 104}")
  }

  test("an invalid pre_section fails both point reads naming the byte") {
    val bad = copyPair(bigPair)
    // word 1 of a record is its pre_section; one in each read gid
    TouchPairs.patchV3(bad, ByteOrder.LITTLE_ENDIAN, Seq((150, 1, 0x8000), (30000, 1, 0x9000)))
    val local = spark.read.format("touchbin").load(bad).filter(col("source_node_id") === 12)
    val job = spark.read.format("touchbin").load(bad).filter(col("source_node_id") === 13)
    for ((df, byte, value) <- Seq((local, 150L * 104 + 4, 32768), (job, 30000L * 104 + 4, 36864))) {
      val e = intercept[Exception](df.collect())
      assert(messages(e).contains(s"$bad: byte $byte: Invalid pre_section $value"), messages(e))
    }
  }

  test("a .h5 column region cut short fails both edge_id reads naming the byte") {
    val h5 = writeEdges(300000)
    val cols = Hdf5DataSource.layout(h5, None).cols
    val region = cols.find(_.name == "target_node_id").get.address
    assert(cols.forall(_.address <= region), "target_node_id is the last region")
    val ch = java.nio.channels.FileChannel.open(Paths.get(h5), StandardOpenOption.WRITE)
    try ch.truncate(region + 4L * 299990) finally ch.close()
    def read(lo: Long) = spark.read.format("sonatah5").load(h5).filter(col("edge_id") >= lo)
    assert(ScanPlans.onDriver(read(299980L)) && !ScanPlans.onDriver(read(0L)))
    for ((lo, rows) <- Seq((299980L, 20), (0L, 300000))) {
      val e = intercept[Exception](read(lo).collect())
      assert(messages(e).contains(s"hdf5: EOF reading $rows x 4 bytes at ${region + 4 * lo} from $h5"),
        messages(e))
    }
  }

  test("a truncated or corrupt .h5 header fails point reads and full scans naming the byte") {
    val bytes = Files.readAllBytes(Paths.get(golden))
    assert(bytes(8) == 0, "superblock version 0")
    // a classic superblock holds the root object header's address at byte 64
    val rootOh = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong(64)
    def variant(name: String, content: Array[Byte]): String = {
      val p = Paths.get(graft.io.TempDirs.create("h5_fault")).resolve(name)
      Files.write(p, content)
      p.toString
    }
    val badSig = bytes.clone()
    badSig(1) = 'X'.toByte
    val cases = Seq(
      variant("cut.h5", bytes.take(rootOh.toInt + 10)) ->
        s"the structure at byte $rootOh reads past the end of the file (${rootOh + 10} bytes)",
      variant("tiny.h5", bytes.take(5)) -> "the structure at byte 0 reads past the end of the file (5 bytes)",
      variant("badsig.h5", badSig) -> "byte 0: bad signature")
    for ((path, detail) <- cases; read <- Seq[String => Any](
        p => spark.read.format("sonatah5").load(p).filter(col("edge_id") < 3L).collect(),
        p => spark.read.format("sonatah5").load(p).collect())) {
      val e = intercept[Exception](read(path))
      assert(messages(e).contains(s"hdf5: $path: ") && messages(e).contains(detail), messages(e))
    }
  }
}
