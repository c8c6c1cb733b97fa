package graft

import graft.io.Hdf5Mini
import graft.pipelines.SonataH5
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The reference's analytic index fixture (tests/test_indexing.cpp:11-54,
  * FIXTURES.md §D) driven through the PHYSICAL HDF5 sink: an all-to-all
  * bipartite graph of 10 sources (ids 90..99) × 10 targets (ids 0..9)
  * converts into a real `.h5` container, and the edge table, both CSR
  * index directions, and the SONATA attributes are read back from the
  * BYTES and checked against the hand-computed expectations — the same
  * assertions [[IndexDataflowSpec]] makes on the in-engine frames, now
  * made on the container a libsonata consumer would open.
  */
class SonataH5FixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  test("physical .h5 container reproduces the analytic all-to-all fixture") {
    import spark.implicits._
    val edges = (for { s <- 0 until 10; t <- 0 until 10 }
      yield (90L + s, t.toLong)).toDF("source_node_id", "target_node_id")
    val out = graft.io.TempDirs.create("h5fixture") + "/edges.h5"
    val (_, done) = SonataH5.convert(spark, edges,
      "source_node_id", "target_node_id", out, "fixture",
      sourcePopulation = "pre", targetPopulation = "post")
    done()

    // edge table: 100 rows, edge_id = 10*s + t in (source, target) order
    val back = spark.read.format("sonatah5").load(out)
      .collect().map(r => (r.getAs[Long]("edge_id"),
        r.getAs[Long]("source_node_id"), r.getAs[Long]("target_node_id")))
      .sortBy(_._1)
    assert(back.length == 100)
    for (s <- 0 until 10; t <- 0 until 10)
      assert(back(10 * s + t) == ((10 * s + t).toLong, 90L + s, t.toLong))

    val base = "/edges/fixture/indices"
    def pairs(p: String): Array[(Long, Long, Long)] =
      SonataH5.readPairs(spark, out, p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)

    // source side: 100 nodes (max id 99) — 0..89 empty, 90+i → range i
    val srcPrimary = pairs(s"$base/source_to_target/node_id_to_ranges")
    assert(srcPrimary.length == 100)
    assert(srcPrimary.take(90).forall { case (_, a, b) => a == 0 && b == 0 })
    for (i <- 0 until 10)
      assert(srcPrimary(90 + i) == ((90 + i).toLong, i.toLong, (i + 1).toLong))
    val srcSecondary = pairs(s"$base/source_to_target/range_to_edge_id")
    assert(srcSecondary.length == 10)
    for (i <- 0 until 10)
      assert(srcSecondary(i) == (i.toLong, (10 * i).toLong, (10 * i + 10).toLong))

    // target side: every range is a single edge, scattered
    val tgtPrimary = pairs(s"$base/target_to_source/node_id_to_ranges")
    assert(tgtPrimary.length == 10)
    for (i <- 0 until 10)
      assert(tgtPrimary(i) == (i.toLong, (10 * i).toLong, (10 * i + 10).toLong))
    val tgtSecondary = pairs(s"$base/target_to_source/range_to_edge_id")
    assert(tgtSecondary.length == 100)
    for (t <- 0 until 10; j <- 0 until 10)
      assert(tgtSecondary(10 * t + j) ==
        ((10 * t + j).toLong, (10 * j + t).toLong, (10 * j + t + 1).toLong))

    // SONATA attributes land where the reference puts them
    // (sonata_writer.cpp:94-97: node_population on the node-id datasets)
    val meta = Hdf5Mini.readMeta(out)
    assert(meta.datasets("/edges/fixture/source_node_id").attrs ==
      Map("node_population" -> "pre"))
    assert(meta.datasets("/edges/fixture/target_node_id").attrs ==
      Map("node_population" -> "post"))
    assert(meta.groupAttrs("/edges/fixture").get("parquet2hdf5_version").nonEmpty)
    assert(meta.groupAttrs("/edges/fixture").get("source_population_name")
      .contains("pre"))
    // index datasets are uint64 2-D, the reference's exact dtype
    // (index.cpp:184-191 writes uint64_t pairs)
    assert(meta.datasets(s"$base/source_to_target/node_id_to_ranges").dtype ==
      Hdf5Mini.U64)
  }
}
