package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import graft.cli.Touch2Parquet
import graft.pipelines.TouchToParquet
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The converter CLIs. Multi-input touch2parquet: schema agreement,
  * gid-range disjointness, and the provenance stamps of the
  * single-input path, on synthetic v1 pairs so gid ranges can be
  * controlled (every shipped fixture shares its gid range with itself).
  * Touch2Sonata: the composed job's SONATA `.h5` on the v2 fixture.
  */
class CliSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  /** One v1 index+data pair with `n` records for a single `gid`. */
  private def v1Pair(gid: Int, n: Int): String = {
    val dir = java.nio.file.Paths.get(graft.io.TempDirs.create(s"cli_v1_$gid"))
    val idx = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
    idx.putDouble(1.001).putLong(1)
    idx.put("1.0.0".getBytes("US-ASCII")); idx.position(32)
    idx.putInt(gid).putInt(n).putLong(0L)
    Files.write(dir.resolve("touches.0"), idx.array())
    val rec = ByteBuffer.allocate(40 * n).order(ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until n) {
      rec.putInt(gid).putInt(1).putInt(i)   // pre: gid, section, segment
      rec.putInt(gid + 1).putInt(2).putInt(i) // post
      rec.putInt(1).putFloat(1.5f).putFloat(0.25f).putFloat(0.75f)
    }
    Files.write(dir.resolve("touchesData.0"), rec.array())
    dir.resolve("touchesData.0").toString
  }

  test("convertMany unions disjoint-gid inputs with unique synapse ids and stamps") {
    val out = graft.io.TempDirs.create("cli_union")
    assert(TouchToParquet.convertMany(spark, Seq(v1Pair(7, 2), v1Pair(100, 3)), out) == 5)
    val rows = spark.read.parquet(out).select("synapse_id").collect().map(_.getLong(0))
    assert(rows.length == 5)
    assert(rows.distinct.length == 5, "synapse ids must be unique across the union")
    assert(rows.count(_ >> 24 == 7L) == 2)
    assert(rows.count(_ >> 24 == 100L) == 3)
    val kv = graft.io.ParquetMeta.readMeta(spark, out)
    assert(kv.contains("touchdetector_version") &&
      kv.getString("touchdetector_version") == "1.0.0",
      "multi-input path must stamp touchdetector_version like the single-input path")
    assert(kv.contains("touch2parquet_version"))
  }

  test("convertMany rejects overlapping gid ranges (synapse ids would collide)") {
    val e = intercept[IllegalArgumentException] {
      TouchToParquet.convertMany(spark, Seq(v1Pair(7, 2), v1Pair(7, 3)),
        graft.io.TempDirs.create("cli_overlap"))
    }
    assert(e.getMessage.contains("gid ranges overlap"), e.getMessage)
  }

  test("Touch2Sonata: one command produces the parquet table and the SONATA .h5") {
    import graft.pipelines.SonataH5
    import org.apache.spark.sql.functions.{col, sum}
    val out = graft.io.TempDirs.create("touch2sonata")
    val n = graft.cli.Touch2Sonata.run(spark, TouchToParquet.fixturePath(2), out, "touches")
    assert(n == 1104, s"v2 fixture has 1104 touches, got $n")
    assert(spark.read.parquet(s"$out/parquet").count() == 1104)
    val h5 = s"$out/edges.h5"
    val edges = spark.read.format("sonatah5").load(h5)
    assert(edges.count() == 1104)
    assert(edges.columns.contains("edge_id") && !edges.columns.contains("synapse_id"))
    for (d <- Seq("source_to_target", "target_to_source")) {
      val ranges = SonataH5.readPairs(spark, h5, s"/edges/touches/indices/$d/range_to_edge_id")
      // range_to_edge_id rows must cover every edge exactly once
      val covered = ranges.agg(sum(col("b") - col("a"))).collect()(0).getLong(0)
      assert(covered == 1104, s"$d range_to_edge_id covers $covered of 1104 edges")
    }
    // the independent reading of the HDF5 spec accepts the container
    val (code, log) = ToolCheck.h5check(h5)
    assert(code == 0, s"h5check rejected the Touch2Sonata container:\n$log")
  }

  test("Parquet2Sonata reads its edge count from the container, with no job after the convert") {
    import graft.pipelines.SonataH5
    val dir = graft.io.TempDirs.create("p2s_count")
    val parquet = s"$dir/parquet"
    TouchToParquet.convert(spark, TouchToParquet.fixturePath(2), parquet)
    val (n, viaRun) = SparkJobs.counted(spark) {
      graft.cli.Parquet2Sonata.run(spark, parquet, s"$dir/run.h5", "touches")
    }
    assert(n == 1104, s"v2 fixture has 1104 touches, got $n")
    // the same read and convert without the CLI: run adds no job of its own
    val (_, direct) = SparkJobs.counted(spark) {
      val edges = graft.io.SchemaSidecar.readParquetDir(spark, parquet)
      val tiebreak = edges.columns.filterNot(
        (Seq("source_node_id", "target_node_id") ++ SonataH5.SkipColumns).contains).toSeq
      SonataH5.convert(spark, edges, "source_node_id", "target_node_id",
        s"$dir/direct.h5", "touches", tiebreak)
    }
    assert(viaRun == direct, s"Parquet2Sonata.run ran $viaRun jobs, the convert alone $direct")
  }

  test("Touch2Parquet prints the row count observed while writing") {
    val out = graft.io.TempDirs.create("cli_t2p")
    assert(Touch2Parquet.run(spark, Seq(TouchToParquet.fixturePath(3)), out) ==
      s"touch2parquet: wrote 62 rows to $out")
    assert(spark.read.parquet(out).count() == 62)
  }

  test("convertMany rejects a schema-version mix") {
    val e = intercept[IllegalArgumentException] {
      TouchToParquet.convertMany(spark,
        Seq(v1Pair(7, 2), TouchToParquet.fixturePath(2)),
        graft.io.TempDirs.create("cli_mix"))
    }
    assert(e.getMessage.contains("disagree on schema version"), e.getMessage)
  }

  test("CurateCorpus: one command from raw documents to packed JSONL shards") {
    import org.apache.spark.sql.functions._
    val out = graft.io.TempDirs.create("curatecli")
    val (n, shards) = graft.cli.CurateCorpus.run(spark,
      "/root/testdata/sf0.001/documents.parquet", out, tokensPerShard = 2000L)
    assert(n > 0, "curation must keep documents")
    assert(shards > 1, s"2000-token shards over the kept corpus should split, got $shards")
    // the written shards reload to exactly the curated survivor set,
    // every kept doc is a canonical cluster representative, and no text
    // escaped normalization
    val reread = spark.read.json(out)
    assert(reread.count() == n)
    assert(reread.columns.sorted.toSeq ==
      Seq("cum_tokens", "doc_id", "lang", "n_tokens", "shard", "source", "text"))
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val keptIds = graft.ext.Curate.curateCorpus(docs,
        graft.ext.Sampling.hashBucket(col("doc_id")) < 6554)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reread.select("doc_id").collect().map(_.getLong(0)).toSet == keptIds)
    assert(reread.filter(col("text") =!= lower(col("text"))).count() == 0,
      "all shard text must be normalized")
    // shard budget: every shard except the last stays within one doc of
    // the token budget by the prefix-scan construction
    val bad = reread.groupBy("shard").agg(sum("n_tokens").as("t"))
      .filter(col("t") > 2000L + 500L).count() // 500 = max doc tokens at sf0.001
    assert(bad == 0, "no shard may exceed budget by more than one document")
  }
}
