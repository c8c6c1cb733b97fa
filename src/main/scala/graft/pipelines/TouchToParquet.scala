package graft.pipelines

import graft.Q
import graft.io.TouchBinary
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pipeline A end-to-end (S1 → W1 → P1-P4 → S4): TouchDetector binary →
  * columnar Parquet (reference: src/touch2parquet.cpp:34-138).
  *
  * The whole pipeline is ONE narrow stage: binary record scan → per-record
  * decode (rename/flatten/unpack/validate fused into the decoder) →
  * parquet sink; file-per-task parallel write replaces the reference's
  * one-file-per-MPI-rank. Sink matches the reference writer's physical
  * knobs: SNAPPY, dictionary encoding off, ~20 MB row groups
  * (src/touches/parquet_writer.cpp:105-163, parquet_writer.h:56-59).
  */
object TouchToParquet {

  /** Fixture shipped in resources (reference tests/touches_v{1,2,3}) —
    * exercised by the rows-only queries below and by ScalaTest.
    */
  def fixturePath(version: Int): String = {
    val url = getClass.getResource(s"/touches_v$version/touchesData.0")
    require(url != null, s"fixture touches_v$version missing from classpath")
    if (url.getProtocol == "file") url.getPath
    else {
      // classpath entry is a jar: extract data+index to a temp dir (the
      // index file must sit next to the data file for name derivation)
      val dir = java.nio.file.Paths.get(graft.io.TempDirs.create(s"touches_v$version"))
      Seq("touchesData.0", "touches.0").foreach { f =>
        val in = getClass.getResourceAsStream(s"/touches_v$version/$f")
        try java.nio.file.Files.copy(in, dir.resolve(f))
        finally in.close()
      }
      dir.resolve("touchesData.0").toString
    }
  }

  def convert(spark: SparkSession, dataPath: String, outDir: String): DataFrame = {
    // V2 connector: record-aligned splits, no zipWithIndex counting pass.
    // The index is resolved through the connector's file resolver so
    // directory inputs stamp the first file's index instead of failing
    // index-name derivation on the directory path.
    write(spark.read.format("touchbin").load(dataPath),
      graft.sources.TouchDataSource.indexedDataFiles(dataPath).head.index, outDir)
    spark.read.parquet(outDir)
  }

  /** The sink: decoded touches → parquet with the reference writer's
    * knobs and footer provenance KVs (src/touches/parquet_writer.cpp:
    * 115-120); `index` supplies the TouchDetector version string.
    */
  def write(touches: DataFrame, index: TouchBinary.TouchIndex, outDir: String): Unit =
    graft.io.ParquetMeta.writeWithMeta(touches, outDir,
      kv = Map(
        "touchdetector_version" -> index.versionString,
        "touch2parquet_version" -> graft.BuildInfo.version),
      options = Map(
        "compression" -> "snappy",
        "parquet.enable.dictionary" -> "false",
        "parquet.block.size" -> (20 * 1024 * 1024).toString))

  /** Rows-only queries (binary input is outside the SQL oracle's reach —
    * golden-compared against tests/testCircuit.parquet in ScalaTest
    * instead, the same fixture the reference's own CI uses).
    */
  val queries: Map[String, Q] = Map(
    "scan_touch_binary" -> ((s, _) => TouchBinary.readProjected(s, fixturePath(2))),
    // same decode through the DataSource V2 connector (split planning +
    // decode-time column pruning); equality with the RDD path is
    // asserted in TouchDataSourceSpec
    "scan_touch_v2_source" -> ((s, _) =>
      s.read.format("touchbin").load(fixturePath(2))),
    "scan_touch_index" -> ((s, _) => {
      import s.implicits._
      val idx = TouchBinary.readIndex(TouchBinary.indexFileFor(fixturePath(3)))
      idx.shifts.zipWithIndex
        .map { case (shift, i) => (idx.firstGid + i, shift) }.toSeq
        .toDF("gid", "first_row")
    }),
    "touch2parquet_pipeline" -> ((s, _) => {
      val out = graft.io.TempDirs.create("touch2parquet")
      convert(s, fixturePath(3), out)
    })
  )

  val oracleSql: Map[String, String] = Map.empty
}
