package graft

import java.nio.ByteOrder
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.io.{ParquetMeta, TouchBinary}
import graft.pipelines.TouchToParquet
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The touch sink (`TouchToParquet.write`, whose page writer is
  * `io.PageParquet`) against Spark's own parquet writer with the
  * reference's knobs, on the same frame: equal rows through both Spark
  * readers and through the independent `tools/parquetcheck.py`, and
  * equal footers.
  */
class TouchParquetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def index(dataPath: String) = TouchBinary.readIndex(TouchBinary.indexFileFor(dataPath))

  private def kv(dataPath: String) = Map(
    "touchdetector_version" -> index(dataPath).versionString,
    "touch2parquet_version" -> graft.BuildInfo.version)

  /** The parent sink: Spark's parquet writer with the reference's knobs. */
  private def sparkWrite(df: DataFrame, dataPath: String, out: String): Unit =
    ParquetMeta.writeWithMeta(df, out, kv(dataPath), Map(
      "compression" -> "snappy",
      "parquet.enable.dictionary" -> "false",
      "parquet.block.size" -> (20 * 1024 * 1024).toString))

  private def out(name: String): String = Files.createTempDirectory(name).resolve("out").toString

  /** `parquetcheck.py`'s output: (rows, footer lines). */
  private def check(dir: String): (Seq[String], Seq[String]) = {
    val (code, log) = ToolCheck.run("parquetcheck.py", dir)
    assert(code == 0, s"parquetcheck rejected $dir:\n$log")
    log.linesIterator.toSeq.span(l => !l.startsWith("file "))
  }

  private def lines(footer: Seq[String], kind: String) = footer.filter(_.startsWith(kind + " "))

  private def parts(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  private def footerOf(part: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(part.toString),
      spark.sparkContext.hadoopConfiguration))
    try (r.getFooter, r.getRowGroups.asScala.flatMap(_.getColumns.asScala).map(c =>
      (r.readColumnIndex(c) != null, r.readOffsetIndex(c) != null)).toSeq)
    finally r.close()
  }

  private def sparkRead(dir: String, vectorized: Boolean): Seq[String] = {
    val key = "spark.sql.parquet.enableVectorizedReader"
    val before = spark.conf.get(key)
    spark.conf.set(key, vectorized.toString)
    try ToolCheck.rendered(spark.read.parquet(dir).orderBy("synapse_id"))
    finally spark.conf.set(key, before)
  }

  /** Writes `frame` with both sinks and compares everything both
    * should agree on; returns the page sink's footer lines.
    */
  private def assertSameAsSpark(frame: DataFrame, dataPath: String): Seq[String] = {
    val ours = out("t2p_page")
    val theirs = out("t2p_spark")
    assert(TouchToParquet.write(frame, index(dataPath), ours) == frame.count())
    sparkWrite(frame, dataPath, theirs)

    val (rows, footer) = check(ours)
    val (sparkRows, sparkFooter) = check(theirs)
    assert(rows == ToolCheck.rendered(frame.orderBy("synapse_id")), "rows differ from the decoded frame")
    assert(rows == sparkRows)
    for (v <- Seq(true, false)) {
      assert(sparkRead(ours, v) == rows, s"vectorized reader $v")
      assert(sparkRead(theirs, v) == rows, s"Spark's file, vectorized reader $v")
    }

    // same files, one row group each: every chunk's pages are the same
    // bytes, and every stat agrees
    assert(lines(footer, "file") == lines(sparkFooter, "file"))
    assert(lines(footer, "chunk") == lines(sparkFooter, "chunk"))
    assert(lines(footer, "stats") == lines(sparkFooter, "stats"))
    // required columns: PLAIN values, BIT_PACKED (empty) levels, no RLE
    assert(lines(footer, "chunk").forall(encodings(_) == Set("PLAIN", "BIT_PACKED")), footer.mkString("\n"))
    assert(lines(footer, "chunk").forall(_.endsWith(" offset_index 1")), footer.mkString("\n"))

    assert(ParquetMeta.readMeta(spark, ours) == ParquetMeta.readMeta(spark, theirs))
    assert(ParquetMeta.readMeta(spark, ours).getString("touchdetector_version") ==
      index(dataPath).versionString)
    assert(parts(ours).map(_.getFileName.toString.dropWhile(_ != '.')) ==
      parts(theirs).map(_.getFileName.toString.dropWhile(_ != '.')))
    for ((a, b) <- parts(ours).zip(parts(theirs))) {
      val ((fa, ia), (fb, ib)) = (footerOf(a), footerOf(b))
      assert(fa.getFileMetaData.getSchema == fb.getFileMetaData.getSchema)
      assert(fa.getFileMetaData.getKeyValueMetaData == fb.getFileMetaData.getKeyValueMetaData)
      assert(ia == ib, "column and offset index presence")
      assert(ia.forall(_._2))
      // the footer too, whose KV pairs parquet-mr writes in its map's order
      assert(java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b)), s"$a and $b differ")
    }
    footer
  }

  private def encodings(chunkLine: String): Set[String] =
    chunkLine.split(' ').dropWhile(_ != "encodings")(1).split(',').toSet

  private def pageRows(chunkLine: String): Seq[Int] =
    chunkLine.split(' ').dropWhile(_ != "pages")(1).split(',').map(_.toInt).toSeq

  for (v <- Seq(1, 2, 3)) test(s"v$v fixture: the page sink writes what Spark's writer writes") {
    val path = TouchToParquet.fixturePath(v)
    val footer = assertSameAsSpark(spark.read.format("touchbin").load(path), path)
    assert(lines(footer, "chunk").forall(l => pageRows(l).sum == pageRows(l).head))
  }

  test("no rows: one part file without row groups, as Spark writes it") {
    val path = TouchToParquet.fixturePath(3)
    val none = spark.read.format("touchbin").load(path).filter(col("source_node_id") < 0)
    assert(lines(assertSameAsSpark(none, path), "file") == Seq("file 0 rows 0 row_groups 0"))
  }

  /** About 45,000 records whose gid blocks straddle the 20,000-row page
    * boundaries, with NaN, −0.0, ±Inf and extreme section ids at and
    * next to them, and float columns whose second page holds only zeros.
    */
  private lazy val edgePair: String = {
    val blocks = Seq(11 -> 19990, 12 -> 25, 13 -> 19980, 14 -> 5005)
    val path = TouchPairs.writeV3(ByteOrder.BIG_ENDIAN, blocks, TouchPairs.entriesOf(blocks))
    val f = java.lang.Float.floatToRawIntBits _
    val special = Seq(f(-0.0f), f(0.0f), f(Float.PositiveInfinity), f(Float.NegativeInfinity),
      0x7fc00000, 0x7f800001, 0xffc00001)
    val patches = for {
      (r, k) <- Seq(0, 1, 19999, 20000, 20001, 39999, 40000, 44999).zipWithIndex
      w <- 7 to 11
    } yield (r, w, special((k + w) % special.length))
    val sections = Seq(19999, 20000, 40000).flatMap(r => Seq(
      (r, 1, Short.MinValue.toInt), (r + 1, 1, Short.MaxValue.toInt),
      (r, 4, Short.MaxValue.toInt), (r + 1, 4, Short.MinValue.toInt)))
    // pages of zeros only, where the -0.0 < 0.0 order decides the page
    // statistics: mixed signs, +0.0 only, -0.0 only, and zeros and a NaN
    val zeros = (20000 until 40000).flatMap(r => Seq(
      (r, 20, if (r % 2 == 0) f(-0.0f) else f(0.0f)), (r, 21, f(0.0f)), (r, 22, f(-0.0f)),
      (r, 23, if (r == 30000) 0x7fc00000 else f(0.0f))))
    TouchPairs.patchV3(path, ByteOrder.BIG_ENDIAN, zeros ++ patches ++ sections)
    path
  }

  test("crafted 45,000-record pair: equal rows, pages of 20,000, equal stats") {
    val frame = spark.read.format("touchbin").load(edgePair)
    val rendered = ToolCheck.rendered(frame)
    assert(rendered == ToolCheck.touchRows(edgePair), "touchbin disagrees with touchcheck.py")
    assert(rendered.exists(_.split('|')(3) == "-32768") && rendered.exists(_.split('|')(5) == "32767"))
    val footer = assertSameAsSpark(frame, edgePair)
    assert(lines(footer, "file") == Seq("file 0 rows 45000 row_groups 1"))
    assert(lines(footer, "chunk").forall(l => pageRows(l) == Seq(20000, 20000, 5000)), footer.mkString("\n"))
  }

  test("several splits per file: each part file is the one Spark's writer writes") {
    // 24,038 records per split: both parts straddle a page boundary
    // and end inside a 4,096-record batch
    val frame = spark.read.format("touchbin").option("maxBytesPerPartition", "2500000").load(edgePair)
    assert(frame.rdd.getNumPartitions == 2)
    val footer = assertSameAsSpark(frame, edgePair)
    assert(lines(footer, "file") == Seq("file 0 rows 24038 row_groups 1", "file 1 rows 20962 row_groups 1"))
    assert(lines(footer, "chunk").filter(_.startsWith("chunk 0.")).forall(pageRows(_) == Seq(20000, 4038)))
    assert(lines(footer, "chunk").filter(_.startsWith("chunk 1.")).forall(pageRows(_) == Seq(20000, 962)))
  }

  test("row groups end on page boundaries; rows and stats survive the split") {
    val frame = spark.read.format("touchbin").load(edgePair)
    val groups = out("t2p_groups")
    val theirs = out("t2p_groups_spark")
    assert(TouchToParquet.write(frame, index(edgePair), groups, rowGroupBytes = 1L << 20) == 45000)
    sparkWrite(frame, edgePair, theirs)
    val (rows, footer) = check(groups)
    val (sparkRows, sparkFooter) = check(theirs)
    assert(rows == sparkRows)
    assert(sparkRead(groups, vectorized = true) == rows)
    assert(sparkRead(groups, vectorized = false) == rows)
    assert(lines(footer, "file") == Seq("file 0 rows 45000 row_groups 3"))
    for ((g, want) <- Seq("0.0" -> 20000, "0.1" -> 20000, "0.2" -> 5000))
      assert(lines(footer, "chunk").filter(_.startsWith(s"chunk $g ")).forall(pageRows(_) == Seq(want)))
    assert(lines(footer, "chunk").forall(_.endsWith(" offset_index 1")))
    assert(lines(footer, "stats") == lines(sparkFooter, "stats"))
  }

  // a frame whose plan has no column batches is refused the same way
  test("a nullable or string field fails on the driver before any output path exists") {
    val sc = spark.sparkContext
    val frames = Seq(
      "field `maybe`" -> spark.range(3).select(when(col("id") > 1, col("id").cast("int")).as("maybe")),
      "field `name`" -> spark.range(3).select(col("id"), col("id").cast("string").as("name")),
      "no columnar child" -> spark.range(3).toDF("id"))
    assert(frames(0)._2.schema("maybe").nullable && !frames(1)._2.schema("name").nullable)
    for ((named, df) <- frames) {
      val dir = out("t2p_refuse")
      sc.setJobGroup("page_refuse", "refuse")
      val e = try intercept[IllegalArgumentException](
          TouchToParquet.write(df, index(TouchToParquet.fixturePath(3)), dir))
        finally sc.clearJobGroup()
      assert(e.getMessage.contains(named), e.getMessage)
      val siblings = Files.list(Paths.get(dir).getParent)
      try assert(siblings.count() == 0, s"$dir or its staging directory exists after the refusal")
      finally siblings.close()
    }
    // a later job seen by the status tracker means every earlier one is too
    sc.setJobGroup("page_refuse_marker", "marker")
    try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("page_refuse_marker").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("page_refuse").isEmpty, "the refusal ran a job")
  }

  /** `body`'s result and, for each job it started, the names of the
    * nodes in the plan of that job's SQL execution.
    */
  private def jobPlans[T](body: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]
    def names(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(names)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, names(s.sparkPlanInfo))
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerDrain(sc)
      (r, jobs.asScala.toSeq.map(_.flatMap(id => Option(plans.get(id))).getOrElse(Nil)))
    } finally sc.removeSparkListener(listener)
  }

  test("convert and convertMany sink the scan's batches in one job with no ColumnarToRow") {
    import TouchPairs.{entriesOf, writeV3}
    val little = Seq(3 -> 5000, 4 -> 7000)
    val big = Seq(9 -> 6000)
    val le = writeV3(ByteOrder.LITTLE_ENDIAN, little, entriesOf(little))
    val be = writeV3(ByteOrder.BIG_ENDIAN, big, entriesOf(big))

    val one = out("t2p_one")
    val (read, onePlans) = jobPlans(TouchToParquet.convert(spark, le, one))
    assert(onePlans.size == 1, s"jobs: $onePlans")
    assert(onePlans.head.exists(_.startsWith("BatchScan")), onePlans.head)
    assert(!onePlans.head.exists(_.contains("ColumnarToRow")), onePlans.head)
    assert(check(one)._1.size == 12000)
    assert(read.count() == 12000)

    val many = out("t2p_many")
    val (n, manyPlans) = jobPlans(TouchToParquet.convertMany(spark, Seq(le, be), many))
    assert(manyPlans.size == 1, s"jobs: $manyPlans")
    assert(manyPlans.head.count(_.startsWith("BatchScan")) == 2 && manyPlans.head.contains("Union"),
      manyPlans.head)
    assert(!manyPlans.head.exists(_.contains("ColumnarToRow")), manyPlans.head)
    assert(n == 18000)
    assert(check(many)._1.size == n)
  }
}
