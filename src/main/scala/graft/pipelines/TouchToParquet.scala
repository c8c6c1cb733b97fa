package graft.pipelines

import java.util.UUID

import graft.Q
import graft.io.{PageParquet, ParquetMeta, TouchBinary}
import graft.sources.{DriverScan, TouchDataSource}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Pipeline A end-to-end (S1 → W1 → P1-P4 → S4): TouchDetector binary →
  * columnar Parquet (reference: src/touch2parquet.cpp:34-138).
  *
  * The whole pipeline is ONE narrow stage with no row in it: binary
  * record scan → columnar decode (rename/flatten/unpack/validate fused
  * into the fill loops) → the scan's column batches straight into the
  * column-at-a-time page writer `io.PageParquet`, which copies each
  * batch column into its 20,000-row page buffer and encodes each
  * column's page in one pass, as the reference's writer does
  * (src/touches/parquet_writer.cpp:166-296). The job commits through
  * the session's `FileCommitProtocol` directly; file-per-task parallel
  * write replaces the reference's one-file-per-MPI-rank. The writer has
  * the reference writer's physical knobs as constants: SNAPPY,
  * dictionary encoding off, ~20 MB row groups
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

  /** Converts one touch input and returns the written parquet, read
    * back with the schema the sink wrote (no schema-inference job).
    */
  def convert(spark: SparkSession, dataPath: String, outDir: String): DataFrame = {
    val (touches, index) = load(spark, Seq(dataPath))
    write(touches, index, outDir)
    spark.read.schema(touches.schema).parquet(outDir)
  }

  /** One or more touch inputs (each a data file or a directory, with
    * its companion indexes) unioned into one parquet sink; returns the
    * rows written. Checks, all before the sink starts, so bad input
    * fails before the output directory exists:
    *  - the reference's schema-agreement rule (parquet2hdf5.cpp:67-73 —
    *    mixed record versions cannot share a sink);
    *  - gid-range disjointness (synapse ids are `(gid << 24) + ordinal`,
    *    so overlapping gid ranges across files would collide);
    *  - every data file's length is a whole number of records;
    *  - no gid's block starts past the end of its data file (its
    *    records would get negative ordinals: another gid's synapse
    *    ids); only starts are checked, as the reference's v1 fixture
    *    claims more records than its file holds.
    * Version STRING agreement is not required (git-hash builds of one
    * record version differ), so the first file's string is stamped.
    */
  def convertMany(spark: SparkSession, inputs: Seq[String], outDir: String): Long = {
    val (touches, index) = load(spark, inputs)
    write(touches, index, outDir)
  }

  /** The checked union of `inputs` and the first file's index. */
  private def load(spark: SparkSession, inputs: Seq[String]): (DataFrame, TouchBinary.TouchIndex) = {
    val indexed = TouchDataSource.indexedDataFiles(inputs: _*)
    TouchDataSource.requireDisjointGidRanges(indexed)
    indexed.foreach { f =>
      f.numRecords
      val (idx, rec) = (f.index, f.index.version.recordSize)
      idx.counts.indices.find(p => idx.counts(p) > 0 && idx.shifts(p) * rec > f.length).foreach { p =>
        throw new IllegalArgumentException(s"${TouchBinary.indexFileFor(f.path)}: gid ${idx.firstGid + p} " +
          s"starts at byte ${idx.shifts(p) * rec}, past the end of ${f.path} (length ${f.length})")
      }
    }
    (inputs.map(p => spark.read.format("touchbin").load(p)).reduce(_ unionByName _),
      indexed.head.index)
  }

  /** The sink: the decoded touches' column batches → parquet through the
    * column-at-a-time page writer (`io.PageParquet`: the reference
    * writer's knobs) with the footer provenance KVs
    * (src/touches/parquet_writer.cpp:115-120) in the schema entry it
    * stamps; `index` supplies the TouchDetector version string. The
    * frame is planned once, and the columnar child of its top
    * `ColumnarToRow` (the `touchbin` scan, or a union of them) runs as
    * one job in one SQL execution; a gid read small enough to be read
    * on the driver (`sources.DriverScan`) is planned as its batch scan
    * here, so it too is written from its column batches. Returns the
    * rows written, summed from the tasks. A frame whose plan has no
    * such child, or with a field the writer does not take, is refused
    * on the driver before any job runs or any path is made.
    *
    * The job writes to a sibling staging directory
    * (`<outDir>.inprogress-<uuid>`) that replaces `outDir` only once
    * it has succeeded, so a failed convert (a decode guard tripping in
    * a task) leaves no output and an earlier `outDir` untouched.
    */
  def write(touches: DataFrame, index: TouchBinary.TouchIndex, outDir: String): Long =
    write(touches, index, outDir, PageParquet.RowGroupBytes)

  private[graft] def write(touches: DataFrame, index: TouchBinary.TouchIndex, outDir: String,
                           rowGroupBytes: Long): Long = {
    PageParquet.requireWritable(touches.schema)
    val frame = batchScanned(touches)
    val plan = frame.queryExecution.executedPlan
    val batches = columnarChild(plan).getOrElse(throw new IllegalArgumentException(
      s"touch2parquet writes column batches, and this frame's plan has no columnar child " +
        s"under a ColumnarToRow:\n${plan.treeString}"))
    val schema = ParquetMeta.stampedSchema(touches.schema, Map(
      "touchdetector_version" -> index.versionString,
      "touch2parquet_version" -> graft.BuildInfo.version))
    val spark = touches.sparkSession
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    val target = fs.makeQualified(out)
    val staging = new Path(target.getParent, s"${target.getName}.inprogress-${UUID.randomUUID}")
    try {
      val n = GraftSqlShim.withExecution(frame, batches) {
        PageParquet.write(spark, batches.executeColumnar(), schema, staging.toString, rowGroupBytes)
      }
      fs.delete(target, true)
      if (!fs.rename(staging, target))
        throw new java.io.IOException(s"cannot move $staging to $target")
      n
    } finally fs.delete(staging, true)
  }

  /** `touches`, with each scan that would be read on the driver
    * replaced by its batch scan.
    */
  private def batchScanned(touches: DataFrame): DataFrame = {
    val optimized = touches.queryExecution.optimizedPlan
    val batched = optimized.transform {
      case r: DataSourceV2ScanRelation => r.scan match {
        case d: DriverScan => r.copy(scan = d.batch)
        case _ => r
      }
    }
    if (batched eq optimized) touches else GraftSqlShim.ofRows(touches.sparkSession, batched)
  }

  private def columnarChild(plan: SparkPlan): Option[SparkPlan] = plan match {
    case WholeStageCodegenExec(p) => columnarChild(p)
    case ColumnarToRowExec(InputAdapter(p)) => Some(p)
    case ColumnarToRowExec(p) => Some(p)
    case _ => None
  }

  /** Rows-only queries (binary input is outside the SQL oracle's reach —
    * golden-compared against tests/testCircuit.parquet in ScalaTest
    * instead, the same fixture the reference's own CI uses).
    */
  val queries: Map[String, Q] = Map(
    // the DataSource V2 connector (split planning + decode-time column
    // pruning); TouchDataSourceSpec checks its rows against the
    // independent tools/touchcheck.py on every fixture version
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
