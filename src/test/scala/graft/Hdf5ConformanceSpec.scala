package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Independent conformance evidence for the HDF5 container (the round-12
  * "What's missing" item): `tools/h5check.py` is a SECOND reading of the
  * public HDF5 File Format Specification, written field-by-field with
  * spec-section citations and sharing no code or structure with
  * [[graft.io.Hdf5Mini]] — so a spec deviation that round-trips through
  * the codec's own reader still fails here unless both implementations
  * made the same mistake independently.
  *
  * Four faces:
  *  1. the COMMITTED golden byte fixture validates (and pins the
  *     validator itself against drift);
  *  2. regenerating the fixture reproduces the committed bytes exactly
  *     (pins the writer's byte layout);
  *  3. a container the actual SONATA sink writes from a DataFrame
  *     validates (ties the production path, not just the codec, to the
  *     spec);
  *  4. deliberately corrupted bytes — structural signatures AND a
  *     semantic invariant (B-tree key ordering) — flip the validator
  *     red, proving the checks bite.
  */
class Hdf5ConformanceSpec extends AnyFunSuite {
  import ToolCheck.h5check

  private val golden = "src/test/resources/golden_sonata.h5"

  test("committed golden container passes the independent spec validator") {
    val (code, out) = h5check(golden)
    assert(code == 0, s"h5check rejected the golden fixture:\n$out")
    assert(out.contains("16 datasets"), s"unexpected dataset census:\n$out")
    assert(out.contains("7 groups"), s"unexpected group census:\n$out")
  }

  test("regenerating the golden fixture reproduces the committed bytes") {
    val tmp = Files.createTempDirectory("h5conf").resolve("regen.h5").toString
    MakeGoldenH5.build(tmp)
    val a = Files.readAllBytes(Paths.get(golden))
    val b = Files.readAllBytes(Paths.get(tmp))
    assert(java.util.Arrays.equals(a, b),
      s"writer byte layout drifted from the committed golden fixture " +
        s"(${a.length} vs ${b.length} bytes)")
  }

  test("a container written by the SONATA sink itself validates") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val out = graft.io.TempDirs.create("h5conf") + "/edges.h5"
    val edges = Tables.lineitem(spark, "/root/testdata/sf0.001").limit(2000).select(
      col("l_orderkey").as("source_node_id"),
      col("l_suppkey").as("target_node_id"),
      col("l_linenumber").as("edge_type_id"),
      col("l_quantity").as("my_attribute"),
      col("l_returnflag").as("my_label"))
    val (_, done) = graft.pipelines.SonataH5.convert(
      spark, edges, "source_node_id", "target_node_id", out, "pop",
      tiebreak = Seq("edge_type_id", "my_attribute", "my_label"),
      enumCols = Seq("my_label"),
      sourcePopulation = "nodes_A", targetPopulation = "nodes_B")
    done()
    val (code, log) = h5check(out)
    assert(code == 0, s"h5check rejected a sink-written container:\n$log")
  }

  test("corrupted bytes flip the validator red") {
    val bytes = Files.readAllBytes(Paths.get(golden))
    def corrupted(mutate: Array[Byte] => Unit): Int = {
      val tmp = Files.createTempDirectory("h5corr").resolve("c.h5")
      val b = bytes.clone(); mutate(b)
      Files.write(tmp, b)
      h5check(tmp.toString)._1
    }
    def indexOfAscii(s: String): Int = {
      val pat = s.getBytes("US-ASCII")
      bytes.indices.find(i => i + pat.length <= bytes.length &&
        pat.indices.forall(j => bytes(i + j) == pat(j))).get
    }
    // structural: each classic-format signature
    for (sig <- Seq("TREE", "SNOD", "HEAP")) {
      val off = indexOfAscii(sig)
      assert(corrupted(b => b(off) = (b(off) ^ 0xFF).toByte) != 0,
        s"$sig signature corruption not caught")
    }
    // semantic: zero the root B-tree's right key (heap offset of the
    // greatest member name) — names in the SNOD then exceed the key,
    // violating the III.A.1 ordering invariant, not any signature
    val tree = indexOfAscii("TREE")
    assert(corrupted { b =>
      (0 until 8).foreach(i => b(tree + 40 + i) = 0)
    } != 0, "B-tree key-ordering corruption not caught")
    // semantic: inflate a dataset's layout byte size — breaks the
    // IV.A.2.i cross-check against dims x element size. The layout
    // message body is version 3, class 1, addr(8), size(8); find it by
    // locating the golden source_node_id data address in a layout body.
    val dsAddr = {
      val f = graft.io.Hdf5Mini.read(golden)
      f.datasets("/edges/pop/source_node_id").dataAddress
    }
    val addrBytes = {
      val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putLong(dsAddr); bb.array()
    }
    val layoutOff = bytes.indices.find(i => i + 18 <= bytes.length &&
      bytes(i) == 3 && bytes(i + 1) == 1 &&
      addrBytes.indices.forall(j => bytes(i + 2 + j) == addrBytes(j))).get
    assert(corrupted(b => b(layoutOff + 10) = (b(layoutOff + 10) + 1).toByte) != 0,
      "layout-size/dataspace mismatch not caught")
  }
}
