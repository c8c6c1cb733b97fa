package graft

import java.nio.file.{Files, Path, Paths}

import graft.io.Hdf5Mini
import graft.pipelines.SonataH5
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `SonataH5.convert` as a whole: the index datasets where node ranges
  * straddle partitions, the number of Spark jobs one convert takes, and
  * that a failed convert publishes nothing.
  */
class SonataH5ConvertSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Edges (source, target, k) with gaps in both id spaces: source 0 is a
    * hub of 500 edges (one long source range), source 50 sends 800
    * edges to target 7 (one range in each direction, longer than two of
    * the 7 range partitions), and target 7 also collects runs from
    * other sources.
    */
  private val straddleEdges: Seq[(Long, Long, Int)] = {
    val targets = Seq(2L, 7L, 99L)
    val hub = (0 until 500).map(j => (0L, targets(j * 3 / 500), j))
    val small = Seq(3L -> 5, 4L -> 1, 10L -> 60, 11L -> 2).flatMap { case (s, n) =>
      (0 until n).map(j => (s, Seq(7L, 8L, 30L, 31L)((j / 4 + s.toInt) % 4), j))
    }
    hub ++ small ++ (0 until 800).map(j => (50L, 7L, j))
  }

  /** Driver-side gaps-and-islands index of one direction:
    * (node_id_to_ranges, range_to_edge_id) rows.
    */
  private def expectedIndex(nodeOf: ((Long, Long, Int)) => Long): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val positioned = straddleEdges.sorted.zipWithIndex
    val ranges = positioned.groupBy { case (e, _) => nodeOf(e) }.toSeq.sortBy(_._1).flatMap {
      case (node, rows) =>
        val ps = rows.map(_._2.toLong).sorted
        val starts = ps.indices.filter(i => i == 0 || ps(i) != ps(i - 1) + 1)
        starts.zip(starts.drop(1) :+ ps.length).map { case (a, b) => (node, ps(a), ps(b - 1) + 1) }
    }
    val bounds = ranges.zipWithIndex.groupBy(_._1._1).map { case (node, rs) =>
      node -> (rs.map(_._2).min.toLong, rs.map(_._2).max + 1L)
    }
    val primary = (0L to ranges.map(_._1).max).map(n => bounds.getOrElse(n, (0L, 0L)))
    (primary, ranges.map { case (_, a, b) => (a, b) })
  }

  test("index datasets with node ranges straddling 7 partitions in both directions") {
    import spark.implicits._
    withConf("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val edges = straddleEdges.toDF("source_node_id", "target_node_id", "k")
      // the fixture really straddles: the (dir, node, pos) pairs the
      // converter numbers put rows of one node in two or more of the 7
      // range partitions, in both directions
      val pairs = graft.ops.Offsets.globalPosition(edges,
          Seq(col("source_node_id"), col("target_node_id"), col("k")), "pos")
        .select(explode(array(
          struct(lit(0).as("dir"), col("source_node_id").as("node_id")),
          struct(lit(1).as("dir"), col("target_node_id").as("node_id")))).as("p"), col("pos"))
        .select(col("p.dir").as("dir"), col("p.node_id").as("node_id"), col("pos"))
      val spread = pairs.repartitionByRange(col("dir"), col("node_id"), col("pos"))
        .select(col("dir"), col("node_id"), spark_partition_id().as("part")).distinct()
        .groupBy(col("dir"), col("node_id")).agg(count(lit(1)).as("parts"))
        .where(col("parts") > 1).select(col("dir")).distinct().collect().map(_.getInt(0)).toSet
      assert(spread == Set(0, 1), s"directions with a straddling node: $spread")

      val out = graft.io.TempDirs.create("h5straddle") + "/edges.h5"
      SonataH5.convert(spark, edges, "source_node_id", "target_node_id", out, "straddle",
        tiebreak = Seq("k"))._2()
      def pairsOf(dir: String, ds: String): Seq[(Long, Long)] =
        SonataH5.readPairs(spark, out, s"/edges/straddle/indices/$dir/$ds").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
          .zipWithIndex.map { case ((row, a, b), i) => assert(row == i); (a, b) }.toSeq
      for ((dir, nodeOf) <- Seq[(String, ((Long, Long, Int)) => Long)](
             "source_to_target" -> (_._1), "target_to_source" -> (_._2))) {
        val (primary, secondary) = expectedIndex(nodeOf)
        assert(pairsOf(dir, "node_id_to_ranges") == primary, s"$dir primary")
        assert(pairsOf(dir, "range_to_edge_id") == secondary, s"$dir secondary")
      }
      val (code, log) = ToolCheck.h5check(out)
      assert(code == 0, s"h5check rejected the container:\n$log")
    }
  }

  test("one convert of the all-to-all fixture runs at most 10 jobs and caches nothing") {
    import spark.implicits._
    val edges = (for { s <- 0 until 10; t <- 0 until 10 }
      yield (90L + s, t.toLong)).toDF("source_node_id", "target_node_id")
    val out = graft.io.TempDirs.create("h5budget") + "/edges.h5"
    val before = SparkJobs.persisted(spark)
    val ((_, release), jobs) = SparkJobs.counted(spark) {
      SonataH5.convert(spark, edges, "source_node_id", "target_node_id", out, "fixture")
    }
    release()
    assert(jobs <= 10, s"one convert ran $jobs Spark jobs")
    assert(SparkJobs.persisted(spark) == before, "convert left a persisted RDD")
  }

  /** `edges` fails to convert with `message`: into an empty directory it
    * leaves nothing, and over an earlier container it keeps those bytes.
    */
  private def failsCleanly(edges: DataFrame, message: String): Unit = {
    import spark.implicits._
    def convert(df: DataFrame, out: Path): Unit =
      SonataH5.convert(spark, df, "source_node_id", "target_node_id", out.toString, "pop",
        tiebreak = Seq("w"))._2()
    def listing(dir: Path): Seq[String] = {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq.sorted finally s.close()
    }
    val fresh = Paths.get(graft.io.TempDirs.create("h5fail"))
    val e1 = intercept[Exception](convert(edges, fresh.resolve("edges.h5")))
    assert(e1.getMessage.contains(message), e1.getMessage)
    assert(listing(fresh).isEmpty, s"a failed convert left ${listing(fresh)}")

    val kept = Paths.get(graft.io.TempDirs.create("h5keep"))
    val out = kept.resolve("edges.h5")
    convert(Seq((1L, 2L, Option(3L)), (2L, 1L, Option(4L))).toDF("source_node_id", "target_node_id", "w"), out)
    val good = Files.readAllBytes(out)
    val e2 = intercept[Exception](convert(edges, out))
    assert(e2.getMessage.contains(message), e2.getMessage)
    assert(listing(kept) == Seq("edges.h5"), s"a failed convert left ${listing(kept)}")
    assert(java.util.Arrays.equals(Files.readAllBytes(out), good),
      "a failed convert changed the earlier container")
    assert(Hdf5Mini.readMeta(out.toString).datasets("/edges/pop/source_node_id").dims == Seq(2L))
  }

  test("a null payload fails the convert in a task and publishes nothing") {
    import spark.implicits._
    failsCleanly(Seq((1L, 2L, Option(3L)), (2L, 1L, None), (3L, 3L, Option(5L)))
      .toDF("source_node_id", "target_node_id", "w"), "sonata-h5: null in column w")
  }

  test("a negative node id fails the convert on the driver and publishes nothing") {
    import spark.implicits._
    failsCleanly(Seq((1L, 2L, Option(3L)), (-5L, 1L, Option(4L)))
      .toDF("source_node_id", "target_node_id", "w"), "sonata-h5: negative node id -5")
  }
}
