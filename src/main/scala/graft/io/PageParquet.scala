package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}

import scala.annotation.switch
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.column.{ColumnDescriptor, Encoding, ParquetProperties}
import org.apache.parquet.column.statistics.{SizeStatistics, Statistics}
import org.apache.parquet.column.statistics.geospatial.GeospatialStatistics
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.{SPARK_VERSION_SHORT, TaskContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport,
  ParquetWriteSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.util.SerializableConfiguration

/** Parquet sink for Spark column batches of required numeric columns
  * that encodes a column at a time, as the reference's writer does
  * (src/touches/parquet_writer.cpp:166-296), and never makes a row:
  * each batch column is copied in one loop into its column's page
  * buffer, and each full buffer becomes a PLAIN page in one pass, whose
  * least and greatest value fill parquet-mr's own `Statistics`; the
  * page goes to parquet-mr's page store (snappy, CRC, column and offset
  * index) and file writer.
  *
  * `write` runs one job and commits it with the session's
  * `FileCommitProtocol`, as Spark's `FileFormatWriter` does (file
  * naming, task commit, `_SUCCESS`, failed attempts cleaned up), over a
  * job conf set up by Spark's parquet source. The files are the ones
  * Spark's writer makes with the reference's knobs, byte for byte: the
  * same parquet schema and footer KV pairs, PLAIN pages of parquet-mr's
  * default 20,000-row limit, dictionary off, snappy, ~20 MB row groups
  * that end on page boundaries (parquet_writer.cpp:105-163,
  * parquet_writer.h:56-59).
  */
object PageParquet {
  /** The reference's row-group size (parquet_writer.h:56-59). */
  val RowGroupBytes: Long = 20L * 1024 * 1024
  val PageRows: Int = ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT
  /** The accepted field types, each with the writer's kind: kinds 0-3
    * are buffered as 32-bit words, 4-5 as 64-bit ones.
    */
  val Kinds: Map[DataType, Int] = Map(
    IntegerType -> 0, FloatType -> 1, ShortType -> 2, ByteType -> 3, LongType -> 4, DoubleType -> 5)

  def requireWritable(schema: StructType): Unit =
    schema.fields.foreach { f =>
      require(!f.nullable && Kinds.contains(f.dataType),
        s"page parquet sink: field `${f.name}` is ${if (f.nullable) "nullable " else ""}" +
          s"${f.dataType.simpleString}; only non-nullable byte, short, int, long, float " +
          "and double fields are written")
    }

  /** Writes `batches`, whose columns are the fields of `schema`, a
    * schema `requireWritable` accepts, under `path`; returns the rows
    * written. As in Spark's writer, each partition with rows writes one
    * part file, and so does partition 0 when there are none.
    */
  def write(spark: SparkSession, batches: RDD[ColumnarBatch], schema: StructType, path: String,
            rowGroupBytes: Long): Long = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(path))
    new ParquetFileFormat().prepareWrite(spark, job, Map("compression" -> "snappy"), schema)
    val committer = FileCommitProtocol.instantiate(spark.sessionState.conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID.toString, outputPath = path)
    committer.setupJob(job)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val tracker = new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date)
    val sc = spark.sparkContext
    val rdd = if (batches.partitions.isEmpty) sc.parallelize(Seq.empty[ColumnarBatch], 1) else batches
    val commits = ArrayBuffer.empty[TaskCommitMessage]
    var rows = 0L
    try {
      sc.runJob(rdd, (task: TaskContext, it: Iterator[ColumnarBatch]) =>
          writeTask(task, it, committer, conf.value, tracker, schema, rowGroupBytes),
        rdd.partitions.indices, (_: Int, r: (TaskCommitMessage, Long)) => {
          committer.onTaskCommit(r._1)
          commits += r._1
          rows += r._2
        })
      committer.commitJob(job, commits.toSeq)
    } catch {
      case t: Throwable =>
        try committer.abortJob(job) catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
    rows
  }

  /** One task's part file, in the task attempt `FileFormatWriter` sets up. */
  private def writeTask(task: TaskContext, batches: Iterator[ColumnarBatch], committer: FileCommitProtocol,
                        conf: Configuration, tracker: String, schema: StructType,
                        rowGroupBytes: Long): (TaskCommitMessage, Long) = {
    val jobId = new JobID(tracker, task.stageId())
    val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, task.partitionId()), task.attemptNumber())
    Seq("mapreduce.job.id" -> jobId, "mapreduce.task.id" -> attempt.getTaskID,
      "mapreduce.task.attempt.id" -> attempt, "mapreduce.task.ismap" -> true, "mapreduce.task.partition" -> 0)
      .foreach { case (k, v) => conf.set(k, v.toString) }
    val context = new TaskAttemptContextImpl(conf, attempt)
    committer.setupTask(context)
    val full = batches.filter(_.numRows > 0)
    var writer: PageWriter = null
    var rows = 0L
    try {
      if (task.partitionId() == 0 || full.hasNext) {
        val name = FileNameSpec("", s"-c000${CompressionCodecName.SNAPPY.getExtension}.parquet")
        writer = new PageWriter(committer.newTaskTempFile(context, None, name), schema, conf, rowGroupBytes)
        full.foreach { b => writer.write(b); rows += b.numRows }
        writer.close()
        writer = null
      }
      (committer.commitTask(context), rows)
    } catch {
      case t: Throwable =>
        if (writer != null) try writer.abort() catch { case s: Throwable => t.addSuppressed(s) }
        try committer.abortTask(context) catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
  }
}

/** One part file: each batch column is copied into one page of
  * primitive buffers per column; a full page is encoded column by
  * column into the row group's page store, and a row group is flushed
  * once its compressed pages reach `rowGroupBytes`.
  */
private class PageWriter(filePath: String, dataSchema: StructType, conf: Configuration,
                         rowGroupBytes: Long) {
  import PageParquet._

  private val schema = new SparkToParquetSchemaConverter(conf).convert(dataSchema)
  private val columns: Array[ColumnDescriptor] = Array.tabulate(dataSchema.length)(schema.getColumns.get)
  private val n = dataSchema.length
  private val kinds: Array[Int] = dataSchema.fields.map(f => Kinds(f.dataType))
  // a page of each column: 32-bit values (floats as their bits) or
  // 64-bit ones (doubles as their bits)
  private val words = kinds.map(k => if (k < 4) new Array[Int](PageRows) else null)
  private val longs = kinds.map(k => if (k >= 4) new Array[Long](PageRows) else null)
  private val page = ByteBuffer.allocate(PageRows * 8).order(ByteOrder.LITTLE_ENDIAN) // one column

  // parquet-mr's defaults (page CRCs, column-index truncation, heap
  // buffers), as Spark's writer has them; pages are PLAIN, so there is
  // never a dictionary
  private val props = ParquetProperties.builder().build()
  private val codecs = new CodecFactory(conf, props.getPageSizeThreshold)
  private val compressor = codecs.getCompressor(CompressionCodecName.SNAPPY)
  private val file = new ParquetFileWriter(HadoopOutputFile.fromPath(new Path(filePath), conf),
    schema, ParquetFileWriter.Mode.CREATE, rowGroupBytes, ParquetWriter.MAX_PADDING_SIZE_DEFAULT,
    null, props)
  file.start()
  // the footer KV pairs of Spark's `ParquetWriteSupport.init`, in the
  // `HashMap` parquet-mr's record writer copies them into, so they are
  // written in the order Spark's writer writes them
  private val meta = new java.util.HashMap[String, String](Map(
    "org.apache.spark.version" -> SPARK_VERSION_SHORT, // private[sql] SPARK_VERSION_METADATA_KEY
    ParquetReadSupport.SPARK_METADATA_KEY -> conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA)).asJava)

  private var rowGroups = 0
  private var store = newStore()
  private var rows = 0          // rows in the page buffers
  private var groupRows = 0L    // rows in the current row group's pages

  private def newStore() = new ColumnChunkPageWriteStore(compressor, schema, props.getAllocator,
    props.getColumnIndexTruncateLength, props.getPageWriteChecksumEnabled, null, rowGroups)

  /** Copies the batch into the page buffers a column at a time,
    * flushing each page as it fills.
    */
  def write(batch: ColumnarBatch): Unit = {
    val m = batch.numRows
    var from = 0
    while (from < m) {
      val k = math.min(m - from, PageRows - rows)
      var c = 0
      while (c < n) {
        copy(c, batch.column(c), from, k)
        c += 1
      }
      rows += k
      from += k
      if (rows == PageRows) flushPage()
    }
  }

  // floatToIntBits / doubleToLongBits, as parquet-mr's plain writer:
  // every NaN is written as the canonical NaN
  private def copy(c: Int, v: ColumnVector, from: Int, k: Int): Unit = {
    val w = words(c)
    val l = longs(c)
    var i = 0
    (kinds(c): @switch) match {
      case 0 => while (i < k) { w(rows + i) = v.getInt(from + i); i += 1 }
      case 1 => while (i < k) { w(rows + i) = java.lang.Float.floatToIntBits(v.getFloat(from + i)); i += 1 }
      case 2 => while (i < k) { w(rows + i) = v.getShort(from + i); i += 1 }
      case 3 => while (i < k) { w(rows + i) = v.getByte(from + i); i += 1 }
      case 4 => while (i < k) { l(rows + i) = v.getLong(from + i); i += 1 }
      case 5 => while (i < k) { l(rows + i) = java.lang.Double.doubleToLongBits(v.getDouble(from + i)); i += 1 }
    }
  }

  /** Encodes the buffered rows as one PLAIN page per column, with the
    * level encodings parquet-mr records for required columns.
    */
  private def flushPage(): Unit = {
    var c = 0
    while (c < n) {
      val col = columns(c)
      val t = col.getPrimitiveType
      val stats: Statistics[_] = Statistics.createStats(t)
      val bytes =
        if (kinds(c) < 4) encode32(words(c), stats, float = kinds(c) == 1)
        else encode64(longs(c), stats, double = kinds(c) == 5)
      store.getPageWriter(col).writePage(BytesInput.from(page.array, 0, bytes), rows, rows,
        stats, SizeStatistics.newBuilder(t, 0, 0).build(), GeospatialStatistics.newBuilder(t).build(),
        Encoding.BIT_PACKED, Encoding.BIT_PACKED, Encoding.PLAIN)
      c += 1
    }
    groupRows += rows
    rows = 0
    if (columns.iterator.map(store.getPageWriter(_).getMemSize).sum >= rowGroupBytes) flushRowGroup()
  }

  // Each encoder copies one column's page into `page` as little-endian
  // words, finds its least and greatest value in one loop, and hands
  // those two to parquet-mr's `Statistics`, which then holds the min and
  // max it holds when fed every value. Float and double bits are
  // compared as `ordered` maps them. Returns the page's bytes.

  /** Float (double) bits → an int (long) whose signed order is
    * Float.compare's (Double.compare's): -0.0 < 0.0, the canonical NaN
    * greatest, the order of parquet-mr's statistics. Its own inverse.
    */
  private def ordered(bits: Int): Int = bits ^ ((bits >> 31) & Int.MaxValue)
  private def ordered(bits: Long): Long = bits ^ ((bits >> 63) & Long.MaxValue)

  private def encode32(v: Array[Int], s: Statistics[_], float: Boolean): Int = {
    var lo = Int.MaxValue
    var hi = Int.MinValue
    var i = 0
    while (i < rows) {
      val k = if (float) ordered(v(i)) else v(i)
      if (k < lo) lo = k
      if (k > hi) hi = k
      i += 1
    }
    page.asIntBuffer().put(v, 0, rows)
    if (float) {
      s.updateStats(java.lang.Float.intBitsToFloat(ordered(lo)))
      s.updateStats(java.lang.Float.intBitsToFloat(ordered(hi)))
    } else {
      s.updateStats(lo)
      s.updateStats(hi)
    }
    rows * 4
  }

  private def encode64(v: Array[Long], s: Statistics[_], double: Boolean): Int = {
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var i = 0
    while (i < rows) {
      val k = if (double) ordered(v(i)) else v(i)
      if (k < lo) lo = k
      if (k > hi) hi = k
      i += 1
    }
    page.asLongBuffer().put(v, 0, rows)
    if (double) {
      s.updateStats(java.lang.Double.longBitsToDouble(ordered(lo)))
      s.updateStats(java.lang.Double.longBitsToDouble(ordered(hi)))
    } else {
      s.updateStats(lo)
      s.updateStats(hi)
    }
    rows * 8
  }

  private def flushRowGroup(): Unit = {
    file.startBlock(groupRows)
    store.flushToFileWriter(file)
    file.endBlock()
    store.close()
    rowGroups += 1
    store = newStore()
    groupRows = 0
  }

  def close(): Unit = {
    try {
      if (rows > 0) flushPage()
      if (groupRows > 0) flushRowGroup()
      file.end(meta)
    } finally release()
  }

  /** Closes the file without a footer; the commit protocol removes it. */
  def abort(): Unit = try file.close() finally release()

  private def release(): Unit = try store.close() finally codecs.release()
}
