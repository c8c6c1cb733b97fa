package graft.sources

import java.nio.ByteOrder

import graft.{SparkTestSession, ToolCheck, TouchPairs}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** Point reads: `touchbin` gid predicates and `sonatah5` edge_id
  * predicates are evaluated exactly in the scan, so no residual
  * `Filter` runs above it and a new key set compiles no new code;
  * results stay exact even under an index that lies about its blocks.
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

  private def scanDescription(df: DataFrame): String =
    plan(df).collect { case b: BatchScanExec => b.scan.description() }.mkString(" ; ")

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
      assert(!scanDescription(cnt).contains("PushedAggregates"), scanDescription(cnt))
      assert(cnt.head().getLong(0) == want.length, s"count of $gids")
      assert(df.count() == want.length)
      for (k <- Seq(10, 45, 1000)) {
        val lim = df.limit(k)
        assert(!scanDescription(lim).contains("PushedLimit"), scanDescription(lim))
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
    val df = spark.read.format("touchbin").load(lyingPair).filter(col("source_node_id") === 5)
    val scan = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      .head.asInstanceOf[TouchScan]
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
}
