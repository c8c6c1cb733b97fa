package graft

import graft.ops.CsrIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's analytic index fixture
  * (tests/test_indexing.cpp:11-54, FIXTURES.md §D): an all-to-all
  * bipartite graph of 10 sources (ids 90..99) × 10 targets (ids 0..9),
  * 100 edges ordered by (source, target).
  */
class IndexDataflowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def edges = {
    import spark.implicits._
    val rows = for {
      s <- 0 until 10
      t <- 0 until 10
    } yield (90 + s, t, (s * 10 + t).toLong) // (source, target, pos)
    rows.toDF("source", "target", "pos")
  }

  test("source-side CSR matches the analytic fixture") {
    val (primary, secondary) =
      CsrIndex.build(edges.withColumnRenamed("source", "node_id"), "node_id", "pos", 100L)
    val p = primary.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(p.length == 100)
    // ids 0..89: no edges -> (0, 0)
    assert(p.take(90).forall { case (_, a, b) => a == 0 && b == 0 })
    // id 90+i -> one range (i, i+1)
    for (i <- 0 until 10) {
      val (_, a, b) = p(90 + i)
      assert(a == i && b == i + 1, s"source ${90 + i}: ($a,$b)")
    }
    val sec = secondary.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(sec.length == 10)
    // range i covers edges [10i, 10(i+1))
    for (i <- 0 until 10) {
      val (_, s, e) = sec(i)
      assert(s == 10 * i && e == 10 * (i + 1), s"range $i: ($s,$e)")
    }
  }

  test("target-side CSR: every range is a single edge, scattered") {
    val (primary, secondary) =
      CsrIndex.build(edges.withColumnRenamed("target", "node_id"), "node_id", "pos", 10L)
    val p = primary.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(p.length == 10)
    // target i owns 10 single-edge ranges -> primary (10i, 10i+10)
    for (i <- 0 until 10) {
      val (_, a, b) = p(i)
      assert(a == 10 * i && b == 10 * i + 10, s"target $i: ($a,$b)")
    }
    val sec = secondary.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(sec.length == 100)
    // target t's j-th range = edge (10j + t, 10j + t + 1)
    for (t <- 0 until 10; j <- 0 until 10) {
      val (_, s, e) = sec(10 * t + j)
      assert(s == 10 * j + t && e == 10 * j + t + 1, s"target $t range $j: ($s,$e)")
    }
  }

  test("SonataH5 end-to-end: edges, @library and all four index datasets") {
    import graft.pipelines.SonataH5
    val out = graft.io.TempDirs.create("sonata_e2e") + "/edges.h5"
    // an enum payload column: label = "even"/"odd" by target parity
    val in = edges.select(col("source").as("source_node_id"), col("target").as("target_node_id"))
      .withColumn("kind", when(col("target_node_id") % 2 === 0, "even").otherwise("odd"))
    val (result, done) = SonataH5.convert(spark, in, "source_node_id", "target_node_id",
      out, "fixture", tiebreak = Seq("kind"), enumCols = Seq("kind"))
    assert(result.count() == 100)
    done()

    // @library/kind holds the sorted enum values; the edge column holds codes
    val lib = graft.io.Hdf5Mini.read(out).strings("/edges/fixture/0/@library/kind")
    assert(lib.toSeq == Seq("even", "odd"))
    val back = spark.read.format("sonatah5").load(out)
    val kinds = back.select(col("target_node_id"), col("kind")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(kinds.length == 100)
    assert(kinds.forall { case (t, k) => k == (t % 2) },
      "code 0=even must appear exactly on even targets")

    val edgesOut = back.collect().map(r => (r.getAs[Int]("source_node_id"),
        r.getAs[Int]("target_node_id"), r.getAs[Long]("edge_id"))).sortBy(_._3)
    // edge_id = position in (source, target) order = s*10 + t
    for (((s, t, id), i) <- edgesOut.zipWithIndex)
      assert(id == i && s == 90 + i / 10 && t == i % 10, s"edge $i: ($s,$t,$id)")

    def pairs(dir: String, ds: String): Array[(Long, Long, Long)] =
      SonataH5.readPairs(spark, out, s"/edges/fixture/indices/$dir/$ds").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val s2tPrim = pairs("source_to_target", "node_id_to_ranges")
    assert(s2tPrim.length == 100)
    assert(s2tPrim.take(90).forall { case (_, a, b) => a == 0 && b == 0 })
    for (i <- 0 until 10) {
      val (_, a, b) = s2tPrim(90 + i); assert(a == i && b == i + 1)
    }
    val s2tSec = pairs("source_to_target", "range_to_edge_id")
    assert(s2tSec.length == 10)
    for (i <- 0 until 10) {
      val (_, s, e) = s2tSec(i); assert(s == 10 * i && e == 10 * (i + 1))
    }
    val t2sPrim = pairs("target_to_source", "node_id_to_ranges")
    assert(t2sPrim.length == 10)
    for (i <- 0 until 10) {
      val (_, a, b) = t2sPrim(i); assert(a == 10 * i && b == 10 * i + 10)
    }
    val t2sSec = pairs("target_to_source", "range_to_edge_id")
    assert(t2sSec.length == 100)
    for (t <- 0 until 10; j <- 0 until 10) {
      val (_, s, e) = t2sSec(10 * t + j)
      assert(s == 10 * j + t && e == 10 * j + t + 1, s"target $t range $j: ($s,$e)")
    }
  }
}
