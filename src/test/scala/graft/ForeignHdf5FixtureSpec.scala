package graft

import graft.io.Hdf5Mini
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Foreign-feature tolerance of the HDF5 reader (round-13 verdict item
  * 2, then the round-14 subset widening): a real SONATA container
  * written by libhdf5 (the reference's own output —
  * src/circuit/sonata_file.cpp accepts whatever libhdf5 wrote) may use
  * classic-format features the sink never emits. Fixtures are
  * hand-authored from the public HDF5 File Format Specification by
  * `tools/h5forge.py` (the h5check.py discipline in reverse: an
  * independent spec reading in a different language, sharing no code
  * with Hdf5Mini) and committed with SHA-256 pins so the bytes cannot
  * drift; they validate structurally up to the foreign feature
  * (h5forge's groups/heap/SNOD pass tools/h5check.py).
  *
  *  - `foreign_chunked.h5` / `foreign_chunked_edge.h5`: 1-D int32
  *    datasets stored CHUNKED (layout message v3 class 2 + node-type-1
  *    chunk B-tree + whole-size raw chunks; the edge variant's last
  *    chunk overhangs the dataspace extent, as libhdf5 always allocates
  *    full chunks). Round 14 WIDENED the reader subset twice: first
  *    Hdf5Mini.read walks the chunk B-tree and reassembles; then the
  *    PLANNED paths (the sonatah5 V2 source, the distributed slice
  *    readers) went chunked-first-class — the metadata parse carries a
  *    chunk placement index, splits ship their index slice, and
  *    executors read exact in-chunk byte ranges (same bytes as
  *    contiguous; the byte-meter invariant holds unchanged).
  *  - `foreign_chunked_multi.h5`: the planned-path driver — a
  *    /edges/pop tree whose THREE columns are chunked with different
  *    chunk sizes (128/100/250) and mixed dtypes (i64/i64/i32), values
  *    closed forms of the row index so the sonata_h5_chunked_v2 face's
  *    DuckDB oracle reproduces the decode without reading HDF5.
  *  - `foreign_v2header.h5` / `foreign_v2tree.h5`: the VERSION 2
  *    object-header format ("OHDR" + lookup3 gateway checksum, spec
  *    IV.A.2) — what libhdf5 emits under H5F_LIBVER_LATEST. Round-14
  *    continuation-2 made the COMPACT subset readable: superblock
  *    v2/v3 (checksummed), OHDR v2 with compact hard-link messages,
  *    checksums VERIFIED with corruption tests proving it; dense link
  *    storage (fractal heaps), soft/external links, and header
  *    continuations stay rejected by name.
  */
class ForeignHdf5FixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private val chunked = "src/test/resources/foreign_chunked.h5"
  private val chunkedEdge = "src/test/resources/foreign_chunked_edge.h5"
  private val chunkedEdges = "src/test/resources/foreign_chunked_edges.h5"
  private val chunkedMulti = "src/test/resources/foreign_chunked_multi.h5"
  private val v2header = "src/test/resources/foreign_v2header.h5"
  private val v2tree = "src/test/resources/foreign_v2tree.h5"

  private def sha256(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .map("%02x".format(_)).mkString
  }

  test("committed foreign fixtures carry the forged bytes exactly") {
    assert(sha256(chunked) ==
      "9e1c4c6d8b0572784f620a860b2b2eb0bb5f9055086bfba00bf2b4cd72e07892")
    assert(sha256(chunkedEdge) ==
      "b0375df74db5d7434596b0094b58170241a8a4c76569023746d37e7a552abc40")
    assert(sha256(chunkedEdges) ==
      "f9256052c6ef860930215ec8377bad474e86167782a6cbad52c9ebfc9611c3dc")
    assert(sha256(v2header) ==
      "1b47d14760c8dd3eebe4d2f4a6aff44ea3ef57c546e1c36931f25a59998a87f9")
    assert(sha256(chunkedMulti) ==
      "38ff017febae0bd4efd12e53b3dedd7919880a11681875c7abfe0858dc47489f")
    assert(sha256(v2tree) ==
      "9dc6f8f9bc828c49d776e160a658bbb7872cd31fc68b2226428f751d3085d5d4")
  }

  test("1-D chunked dataset reads through the chunk B-tree") {
    val f = Hdf5Mini.read(chunked)
    val ds = f.datasets("/data")
    assert(ds.chunked && ds.dims == Seq(10L))
    assert(f.longs("/data").toSeq == (0L until 10L))
  }

  test("edge chunk: only the in-extent prefix of the last chunk is read") {
    // 7 elements in chunks of 5 — the second chunk is stored full-size
    // with fill garbage (-1) past the extent, which must NOT leak
    val f = Hdf5Mini.read(chunkedEdge)
    assert(f.datasets("/data").dims == Seq(7L))
    assert(f.longs("/data").toSeq == (0L until 7L))
  }

  test("level-1 chunk B-tree: the recursive descent reassembles across leaves") {
    // 24 values in 8 chunks of 3, split 4+4 across two level-0 leaves
    // under one level-1 internal node — the flat fixtures never leave
    // level 0, so this is the only coverage of walkChunkBtree's
    // recursion (spec III.A.1: internal node children are tree nodes)
    val deep = "src/test/resources/foreign_chunked_deep.h5"
    assert(sha256(deep) ==
      "6b31ca9be3f54464ee445db9136409538f7859aaf52556cf572147244c78812c")
    val f = Hdf5Mini.read(deep)
    assert(f.datasets("/data").chunked && f.datasets("/data").dims == Seq(24L))
    assert(f.longs("/data").toSeq == (0L until 24L))
  }

  test("readMeta registers a chunked dataset but defers its data") {
    val f = Hdf5Mini.readMeta(chunked)
    assert(f.datasets("/data").chunked)
    val e = intercept[RuntimeException] { f.longs("/data") }
    assert(e.getMessage.contains("not materialized"), e.getMessage)
  }

  test("the planned V2 source reads a chunked edge column positionally") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("sonatah5").load(chunkedEdges)
    // metadata-only count: the dataspace dims answer it, zero data bytes
    val before = Hdf5Mini.dataBytesRead(chunkedEdges)
    assert(df.count() == 12L)
    assert(Hdf5Mini.dataBytesRead(chunkedEdges) == before)
    // full decode matches the in-memory reader
    assert(df.orderBy("edge_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 12L).map(i => (i, i)))
    // edge_id range pushdown reads EXACTLY the planned rows' bytes,
    // chunk boundaries notwithstanding (rows 5..9 span chunks 1 and 2)
    val b1 = Hdf5Mini.dataBytesRead(chunkedEdges)
    val got = df.where(col("edge_id").between(5, 9))
      .select("source_node_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (5L to 9L))
    assert(Hdf5Mini.dataBytesRead(chunkedEdges) - b1 == 5L * 8,
      "chunked pruned scan must read exactly planned_rows x width")
  }

  test("multi-column chunked container: mixed chunk sizes, exact values, no fill leak") {
    import org.apache.spark.sql.functions._
    // tiny partitions force several splits, so per-split index slicing
    // and cross-chunk segment reads are both on the executed path
    val df = spark.read.format("sonatah5")
      .option("maxBytesPerPartition", "2048").load(chunkedMulti)
    assert(df.rdd.getNumPartitions > 1, "fixture must plan multiple splits")
    val rows = df.orderBy("edge_id").collect()
    assert(rows.length == 600)
    rows.foreach { r =>
      val i = r.getLong(0)
      assert(r.getLong(r.fieldIndex("source_node_id")) == (7 * i) % 50)
      assert(r.getLong(r.fieldIndex("target_node_id")) == (3 * i) % 40)
      assert(r.getInt(r.fieldIndex("delay_ms")) == ((11 * i) % 1000).toInt)
    }
    // pruned scan over a chunked column: bytes = rows x width exactly
    // (the edge chunks' -1 filler is never read or surfaced)
    val b0 = Hdf5Mini.dataBytesRead(chunkedMulti)
    val s = df.where(col("edge_id") >= 590).select("delay_ms")
      .collect().map(_.getInt(0)).toSeq
    assert(s.sorted == (590L until 600L).map(i => ((11 * i) % 1000).toInt).sorted)
    assert(Hdf5Mini.dataBytesRead(chunkedMulti) - b0 == 10L * 4)
  }

  test("an empty version-2 root group parses as a group with no members") {
    // round-14 continuation-2 widened the subset again: OHDR v2 with
    // compact links is READ (checksum-verified), so the empty new-style
    // root is simply an empty tree — and the planned source reports the
    // SEMANTIC absence (no /edges), not a format rejection
    val f = Hdf5Mini.read(v2header)
    assert(f.datasets.isEmpty && f.groupAttrs.keySet == Set("/"))
    val ev = intercept[Exception] {
      spark.read.format("sonatah5").load(v2header).count()
    }
    assert(ev.getMessage.contains("no /edges"), ev.getMessage)
  }

  test("superblock v2 + OHDR v2 compact-link tree reads end-to-end") {
    val f = Hdf5Mini.read(v2tree)
    assert(f.groupAttrs.keySet == Set("/", "/edges", "/edges/pop"))
    assert(f.longs("/edges/pop/source_node_id").toSeq ==
      (0 until 20).map(i => (5L * i + 1) % 97))
  }

  test("the planned V2 source reads the new-style tree") {
    val rows = spark.read.format("sonatah5").load(v2tree)
      .orderBy("edge_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0 until 20).map(i => (i.toLong, (5L * i + 1) % 97)))
  }

  test("a corrupted OHDR gateway checksum fails loud, never a silent walk") {
    val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(v2tree))
    val bad = orig.clone()
    // flip one bit inside the ROOT group's first link name ("edges" —
    // past the superblock, before its checksum)
    val idx = 48 + 20
    bad(idx) = (bad(idx) ^ 0x01).toByte
    val tmp = java.nio.file.Files.createTempFile("v2corrupt", ".h5")
    java.nio.file.Files.write(tmp, bad)
    try {
      val e = intercept[IllegalArgumentException] { Hdf5Mini.read(tmp.toString) }
      assert(e.getMessage.contains("checksum mismatch"), e.getMessage)
    } finally java.nio.file.Files.delete(tmp)
  }

  test("a corrupted v2 superblock checksum fails loud") {
    val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(v2tree))
    val bad = orig.clone()
    bad(30) = (bad(30) ^ 0x40).toByte   // inside the EOF field
    val tmp = java.nio.file.Files.createTempFile("v2sbcorrupt", ".h5")
    java.nio.file.Files.write(tmp, bad)
    try {
      val e = intercept[IllegalArgumentException] { Hdf5Mini.read(tmp.toString) }
      assert(e.getMessage.contains("superblock") &&
        e.getMessage.contains("checksum mismatch"), e.getMessage)
    } finally java.nio.file.Files.delete(tmp)
  }

  test("dense link storage is rejected by name (compact subset only)") {
    // hand-corrupt the root link-info: set the fractal-heap address to
    // a defined value — the reader must refuse rather than walk heaps
    // it does not implement. The link-info body sits right after the
    // OHDR prefix (4 sig + 1 ver + 1 flags + 1 size) + message header
    // (4) + version/flags (2) → heap addr at +13... located by scan:
    // the first 8-byte UNDEF run inside the root header.
    val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(v2tree))
    val bad = orig.clone()
    val rootStart = 48
    var i = rootStart
    while (!(0 until 8).forall(j => bad(i + j) == -1)) i += 1
    java.util.Arrays.fill(bad, i, i + 8, 0x10.toByte)  // defined address
    // recompute the gateway checksum so ONLY the dense-storage rejection
    // can fire (a stale checksum would mask it)
    val chunk0 = bad(rootStart + 6) & 0xFF
    val bodyEnd = rootStart + 7 + chunk0
    val ck = Hdf5Mini.lookup3(bad, rootStart, bodyEnd - rootStart)
    java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(bodyEnd, ck)
    val tmp = java.nio.file.Files.createTempFile("v2dense", ".h5")
    java.nio.file.Files.write(tmp, bad)
    try {
      val e = intercept[IllegalArgumentException] { Hdf5Mini.read(tmp.toString) }
      assert(e.getMessage.contains("dense link storage"), e.getMessage)
    } finally java.nio.file.Files.delete(tmp)
  }
}
