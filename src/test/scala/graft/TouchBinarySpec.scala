package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.io.TouchBinary
import graft.model.TouchModel
import graft.pipelines.TouchToParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class TouchBinarySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def touchbin(path: String): DataFrame = spark.read.format("touchbin").load(path)
  private def fixture(v: Int): DataFrame = touchbin(TouchToParquet.fixturePath(v))

  test("version sniffing matches the reference rules") {
    import TouchModel._
    assert(sniffVersion("6.0.0") == V3)
    assert(sniffVersion("5.4.1") == V3)
    assert(sniffVersion("5.0.0") == V2)
    assert(sniffVersion("4.99.0") == V2)
    assert(sniffVersion("4.98.0") == V1)
    assert(sniffVersion("b210b8b") == V1) // git hash
    assert(sniffVersion("1.0.0") == V1)
    assert(sniffVersion("5.") == V1)  // trailing empty component rejects
    assert(sniffVersion("5.x") == V1) // unparsable component rejects
    assert(sniffVersion("99999999999.0") == V1) // int32 overflow rejects, as stoi's throw does
    // touchcheck.py reads the overflowing version string as v1 too
    val big = writeFixture(Files.createTempDirectory("bigver"), 3, 0L, version = "99999999999.0")
    assert(ToolCheck.touchRows(big).map(_.split('|').length) == Seq(11))
  }

  test("fixture row counts: v1=82, v2=1104, v3=62") {
    assert(fixture(1).collect().length == 82)
    assert(fixture(2).collect().length == 1104)
    assert(fixture(3).collect().length == 62)
  }

  test("schema widths per version: 11 / 22 / 28 columns") {
    assert(fixture(1).columns.length == 11)
    assert(fixture(2).columns.length == 22)
    assert(fixture(3).columns.length == 28)
  }

  test("v1 decode golden-matches the reference's testCircuit.parquet") {
    val golden = spark.read
      .parquet(getClass.getResource("/testCircuit.parquet").getPath)
    val ours = fixture(1).drop("synapse_id")
    assert(ours.schema.map(f => (f.name, f.dataType)) ==
      golden.schema.map(f => (f.name, f.dataType)))
    // order-insensitive compare on full rows (unique enough for 82 rows)
    val g = golden.collect().map(_.toSeq.mkString("|")).sorted
    val o = ours.collect().map(_.toSeq.mkString("|")).sorted
    assert(o.toSeq == g.toSeq)
  }

  test("synapse ids: (gid << 24) + ordinal, contiguous from the shift") {
    import spark.implicits._
    val rows = fixture(2).select($"synapse_id", $"source_node_id").collect()
    assert(rows.length == 1104)
    val gid = rows.head.getInt(1)
    assert(gid == 28) // single-neuron fixture, id 28 in touches.0
    val ids = rows.map(_.getLong(0)).sorted
    assert(ids.head == (gid.toLong << 24))
    assert(ids.last == (gid.toLong << 24) + 1103)
    assert(ids.distinct.length == 1104)
  }

  test("v2 unpacks branch-type nibbles into section types in [1,16]") {
    import spark.implicits._
    val types = fixture(2).select($"efferent_section_type".cast("int"), $"afferent_section_type".cast("int"))
      .collect().flatMap(r => Seq(r.getInt(0), r.getInt(1)))
    assert(types.forall(t => t >= 1 && t <= 16))
  }

  test("big-endian input decodes identically (reference would corrupt v2/v3)") {
    // Byte-swap the little-endian v2 fixture into a synthetic BE pair and
    // expect identical decoded values, in agreement with touchcheck.py.
    def swapFile(src: String, dst: String, words32: Boolean): Unit = {
      val in = Files.readAllBytes(java.nio.file.Paths.get(src))
      val out = new Array[Byte](in.length)
      if (words32) {
        // data file: swap each aligned 32-bit word; the lone byte field
        // (branch_type @76 in each 80-byte record) must stay put, so swap
        // word-wise except the 76..79 word, which holds bytes — swap
        // whole-word is wrong there. Instead: per record, swap 19 words
        // then copy 76..79 verbatim.
        val rec = 80
        for (r <- 0 until in.length / rec; w <- 0 until rec / 4) {
          val base = r * rec + w * 4
          if (w == 19) {
            System.arraycopy(in, base, out, base, 4)
          } else {
            out(base) = in(base + 3); out(base + 1) = in(base + 2)
            out(base + 2) = in(base + 1); out(base + 3) = in(base)
          }
        }
      } else {
        // index file: header double(8) + long(8) + 16 ASCII bytes, then
        // (i32, u32, i64) records
        def rev(off: Int, len: Int): Unit =
          for (i <- 0 until len) out(off + i) = in(off + len - 1 - i)
        rev(0, 8); rev(8, 8)
        System.arraycopy(in, 16, out, 16, 16)
        var off = 32
        while (off + 16 <= in.length) {
          rev(off, 4); rev(off + 4, 4); rev(off + 8, 8); off += 16
        }
      }
      Files.write(java.nio.file.Paths.get(dst), out)
    }
    val dir = Files.createTempDirectory("be_touches").toString
    swapFile(TouchToParquet.fixturePath(2), s"$dir/touchesData.0", words32 = true)
    swapFile(TouchBinary.indexFileFor(TouchToParquet.fixturePath(2)), s"$dir/touches.0", words32 = false)
    val le = fixture(2)
    val be = touchbin(s"$dir/touchesData.0")
    // string-compare: the data contains NaNs, and NaN != NaN under Seq equality
    val a = le.collect().map(_.toSeq.mkString("|")).sorted
    val b = be.collect().map(_.toSeq.mkString("|")).sorted
    assert(a.toSeq == b.toSeq)
    assert(ToolCheck.rendered(be) == ToolCheck.touchRows(s"$dir/touchesData.0"))
  }

  test("touch2parquet end-to-end round trip preserves all values") {
    val out = Files.createTempDirectory("t2p_test").toString
    val result = TouchToParquet.convert(spark, TouchToParquet.fixturePath(3), out)
    val direct = fixture(3)
    assert(result.count() == 62)
    // compare names+types; Spark reads parquet back nullable even though the
    // file's fields are REQUIRED (written from a non-nullable Dataset)
    assert(result.schema.map(f => (f.name, f.dataType)) ==
      direct.schema.map(f => (f.name, f.dataType)))
    val a = direct.collect().map(_.toSeq.mkString("|")).sorted
    val b = result.collect().map(_.toSeq.mkString("|")).sorted
    assert(a.toSeq == b.toSeq)
  }

  /** A v1 pair in `dir`: the index (magic `magic`, version string
    * `version`, at most 16 bytes) declares one neuron,
    * gid 7 at byte `offset`; the data holds `lead` records with
    * pre_section 3, then one with the given pre_section.
    */
  private def writeFixture(dir: java.nio.file.Path, preSection: Int, offset: Long,
                           magic: Double = 1.001, version: String = "1.0.0",
                           lead: Int = 0): String = {
    val idx = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
    idx.putDouble(magic).putLong(1)
    idx.put(version.getBytes("US-ASCII")); idx.position(32)
    idx.putInt(7).putInt(lead + 1).putLong(offset)
    Files.write(dir.resolve("touches.0"), idx.array())
    val rec = ByteBuffer.allocate(40 * (lead + 1)).order(ByteOrder.LITTLE_ENDIAN)
    for (s <- Seq.fill(lead)(3) :+ preSection) {
      rec.putInt(7).putInt(s).putInt(0)
      rec.putInt(8).putInt(1).putInt(0)
      rec.putInt(1).putFloat(1f).putFloat(0f).putFloat(0f)
    }
    Files.write(dir.resolve("touchesData.0"), rec.array())
    dir.resolve("touchesData.0").toString
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("validation guards TRIP on malformed data (touchbin and touchcheck.py)") {
    // record 2 has pre_section = 0x8000 (> 0x7fff → endianness-damage
    // guard, parquet_writer.cpp:207-219); its pre_section word is byte 84
    val bad = writeFixture(Files.createTempDirectory("badsec"), 0x8000, 0L, lead = 2)
    val e1 = intercept[org.apache.spark.SparkException](touchbin(bad).collect())
    assert(messages(e1).contains(s"$bad: byte 84: Invalid pre_section 32768"), messages(e1))
    val (code1, log1) = ToolCheck.run("touchcheck.py", bad)
    assert(code1 != 0 && log1.contains(s"$bad: byte 84:"), s"touchcheck accepted pre_section 0x8000:\n$log1")
    // 2^24-touches-per-gid overflow: an index offset of 2 − 2^24 records
    // makes global_row − shift reach 2^24 at record 2, whose gid word is
    // byte 80
    val over = writeFixture(Files.createTempDirectory("overflow"), 3, (2 - (1L << 24)) * 40, lead = 2)
    val e2 = intercept[org.apache.spark.SparkException](
      touchbin(over).select("synapse_id").collect())
    assert(messages(e2).contains(s"$over: byte 80: gid 7 has more than 2^24"), messages(e2))
    val (code2, log2) = ToolCheck.run("touchcheck.py", over)
    assert(code2 != 0 && log2.contains(s"$over: byte 80:"), s"touchcheck accepted a 2^24 ordinal:\n$log2")
    // non-trip: the valid fixture decodes fine (exercised throughout)
  }

  test("truncated data or a bad index magic fail convert before any output") {
    // a data file 7 bytes past its one record: the partial record
    // starts at byte 40
    val trunc = writeFixture(Files.createTempDirectory("trunc"), 3, 0L)
    Files.write(java.nio.file.Paths.get(trunc), new Array[Byte](7),
      java.nio.file.StandardOpenOption.APPEND)
    // an index whose magic is 1.001 in neither byte order
    val magic = writeFixture(Files.createTempDirectory("magic"), 3, 0L, magic = 2.5)
    val magicIndex = TouchBinary.indexFileFor(magic)
    // an index cut to 6 bytes, short of its 32-byte header
    val short = writeFixture(Files.createTempDirectory("shortidx"), 3, 0L)
    val shortIndex = TouchBinary.indexFileFor(short)
    Files.write(java.nio.file.Paths.get(shortIndex), new Array[Byte](6))
    for ((data, named, detail) <- Seq(
        (trunc, trunc, "partial record at byte 40"),
        (magic, magicIndex, "bad architecture identifier"),
        (short, shortIndex, "index header needs 32 bytes, file has 6"))) {
      val out = Files.createTempDirectory("t2p_bad").resolve("out")
      val e = intercept[IllegalArgumentException](
        TouchToParquet.convert(spark, data, out.toString))
      assert(e.getMessage.contains(named) && e.getMessage.contains(detail), e.getMessage)
      assert(!Files.exists(out), s"$out was created before the input was rejected")
      val (code, log) = ToolCheck.run("touchcheck.py", data)
      assert(code != 0 && log.contains(named), s"touchcheck accepted $data:\n$log")
    }
    assert(ToolCheck.run("touchcheck.py", trunc)._2.contains("byte 40"))
  }

  test("an index entry that starts past the end of its data file is refused before any output") {
    // gid 6's two records are the file's last two, but its entry puts
    // them at record 10 of a 5-record file: their ordinals would go
    // negative, into gid 5's synapse ids
    val data = TouchPairs.writeV3(ByteOrder.LITTLE_ENDIAN, Seq(5 -> 3, 6 -> 2), Seq((5, 3, 0L), (6, 2, 10L)))
    val out = Files.createTempDirectory("t2p_eof").resolve("out")
    val e = intercept[IllegalArgumentException](TouchToParquet.convert(spark, data, out.toString))
    for (part <- Seq(TouchBinary.indexFileFor(data), "gid 6", "byte 1040", data, "length 520"))
      assert(e.getMessage.contains(part), e.getMessage)
    val left = Files.list(out.getParent)
    try assert(left.count() == 0, s"$out or its staging directory exists after the refusal")
    finally left.close()
  }

  test("a convert that fails in its tasks leaves no output and keeps an earlier one") {
    // the crafted pairs of the guard test: pre_section 0x8000 at byte
    // 84, a 2^24 ordinal at byte 80; both trip inside the write job
    val bad = writeFixture(Files.createTempDirectory("badsec_t2p"), 0x8000, 0L, lead = 2)
    val over = writeFixture(Files.createTempDirectory("overflow_t2p"), 3, (2 - (1L << 24)) * 40, lead = 2)
    def tree(dir: java.nio.file.Path): Map[String, Seq[Byte]] = {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    def siblings(out: java.nio.file.Path): Seq[String] = {
      val s = Files.list(out.getParent)
      try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    for ((data, detail) <- Seq((bad, s"$bad: byte 84: Invalid pre_section 32768"),
        (over, s"$over: byte 80: gid 7 has more than 2^24"))) {
      val fresh = Files.createTempDirectory("t2p_fail").resolve("out")
      val e1 = intercept[org.apache.spark.SparkException](
        TouchToParquet.convert(spark, data, fresh.toString))
      assert(messages(e1).contains(detail), messages(e1))
      assert(siblings(fresh).isEmpty, s"left behind: ${siblings(fresh)}")

      val kept = Files.createTempDirectory("t2p_keep").resolve("out")
      TouchToParquet.convert(spark, TouchToParquet.fixturePath(1), kept.toString)
      val before = tree(kept)
      assert(before.keys.exists(_.endsWith(".parquet")))
      val e2 = intercept[org.apache.spark.SparkException](
        TouchToParquet.convert(spark, data, kept.toString))
      assert(messages(e2).contains(detail), messages(e2))
      assert(siblings(kept) == Seq("out"), s"left behind: ${siblings(kept)}")
      assert(tree(kept) == before, "the earlier output changed")
    }
  }

  test("convert reads its output back with the written schema: one job") {
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("t2p_jobs").resolve("out").toString
    sc.setJobGroup("t2p_convert", "convert")
    val result = try TouchToParquet.convert(spark, TouchToParquet.fixturePath(3), out)
      finally sc.clearJobGroup()
    // the status store hears of jobs through the ordered listener bus,
    // so once a later job shows up, every job convert started has too
    sc.setJobGroup("t2p_marker", "marker")
    try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("t2p_marker").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("t2p_convert").length == 1,
      "convert must run only the write job (no schema-inference read-back)")
    // the parquet reader's nullability, as a schema-inferring read gives it
    assert(result.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      fixture(3).schema.map(f => (f.name, f.dataType, true)))
  }

  test("converter stamps footer KV provenance that round-trips write+read") {
    val out = Files.createTempDirectory("t2p_meta").toString
    TouchToParquet.convert(spark, TouchToParquet.fixturePath(3), out)
    // Spark-level round trip
    val meta = graft.io.ParquetMeta.readMeta(spark, out)
    assert(meta.getString("touchdetector_version") == "6.0.0")
    assert(meta.getString("touch2parquet_version") == graft.BuildInfo.version)
    // raw footer: the KVs must be physically present in the parquet
    // file's key-value metadata (inside Spark's schema JSON entry)
    val part = Files.list(java.nio.file.Paths.get(out)).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst.get
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.toString),
      spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
      val schemaJson = kv.get("org.apache.spark.sql.parquet.row.metadata")
      assert(schemaJson != null, s"footer KVs: $kv")
      assert(schemaJson.contains("touchdetector_version"))
      assert(schemaJson.contains("6.0.0"))
      assert(schemaJson.contains("touch2parquet_version"))
    } finally reader.close()
  }

  test("readMeta reads the footer KV pairs without a Spark job") {
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("t2p_meta_jobs").resolve("out").toString
    TouchToParquet.convert(spark, TouchToParquet.fixturePath(3), out)
    sc.setJobGroup("read_meta", "readMeta")
    val meta = try graft.io.ParquetMeta.readMeta(spark, out) finally sc.clearJobGroup()
    // a later job seen by the status store means every earlier one is too
    sc.setJobGroup("read_meta_marker", "marker")
    try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("read_meta_marker").isEmpty &&
        System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("read_meta").isEmpty,
      "readMeta must read one footer, not run a schema-inference job")
    assert(meta.getString("touchdetector_version") == "6.0.0")
    assert(meta.getString("touch2parquet_version") == graft.BuildInfo.version)
  }

  test("recordRangeFor clamps one-sided and out-of-domain bounds (no wrap)") {
    val idx = TouchBinary.TouchIndex(littleEndian = true, "1.0.0",
      graft.model.TouchModel.sniffVersion("1.0.0"), firstGid = 100,
      shifts = Array(0L, 10L, 20L), counts = Array(10L, 10L, 10L))
    // upper-bound-only: lo = Long.MinValue wrapped before the round-8 fix
    assert(idx.recordRangeFor(Long.MinValue, 101L) == Some((0L, 20L)))
    // lower-bound-only: hi = Long.MaxValue
    assert(idx.recordRangeFor(101L, Long.MaxValue) == Some((10L, 30L)))
    // fully out-of-domain on either side → provably empty
    assert(idx.recordRangeFor(Long.MinValue, 99L) == Some((0L, 0L)))
    assert(idx.recordRangeFor(103L, Long.MaxValue) == Some((0L, 0L)))
    // degenerate inverted interval
    assert(idx.recordRangeFor(Long.MaxValue, Long.MinValue) == Some((0L, 0L)))
  }

  test("recordRangesFor merges overlapping ranges from non-monotone offsets") {
    // gids 100..103 with NON-MONOTONE record offsets: gid 100 at records
    // [30,40), 101 at [0,10), 102 at [35,45), 103 at [10,20). Two gid
    // intervals whose record ranges OVERLAP must come back merged
    // disjoint — a duplicate split would emit duplicate rows (the
    // residual filter passes them twice).
    val idx = TouchBinary.TouchIndex(littleEndian = true, "1.0.0",
      graft.model.TouchModel.sniffVersion("1.0.0"), firstGid = 100,
      shifts = Array(30L, 0L, 35L, 10L), counts = Array(10L, 10L, 10L, 10L))
    // [100,100] → [30,40); [102,102] → [35,45): overlap at [35,40)
    assert(idx.recordRangesFor(Seq((100L, 100L), (102L, 102L))) ==
      Some(Seq((30L, 45L))))
    // touching record ranges merge into one contiguous range
    assert(idx.recordRangesFor(Seq((101L, 101L), (103L, 103L))) ==
      Some(Seq((0L, 20L))))
    // genuinely disjoint record ranges stay separate
    assert(idx.recordRangesFor(Seq((101L, 101L), (100L, 100L))) ==
      Some(Seq((0L, 10L), (30L, 40L))))
    // an empty interval contributes nothing
    assert(idx.recordRangesFor(Seq((100L, 100L), (500L, 600L))) ==
      Some(Seq((30L, 40L))))
    // all-empty → provably no records
    assert(idx.recordRangesFor(Seq((1L, 2L))) == Some(Seq.empty))
  }
}
