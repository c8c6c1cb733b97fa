package graft.io

import java.nio.{ByteBuffer, ByteOrder}

import scala.annotation.switch

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.column.{ColumnDescriptor, Encoding, ParquetProperties}
import org.apache.parquet.column.statistics.{SizeStatistics, Statistics}
import org.apache.parquet.column.statistics.geospatial.GeospatialStatistics
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.SPARK_VERSION_SHORT
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport,
  ParquetWriteSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types._

/** Parquet sink for flat frames of required numeric columns that
  * encodes a column at a time, as the reference's writer does: rows are
  * transposed into per-column buffers of one page, and each full buffer
  * is copied into a PLAIN page in one pass per column, whose least and
  * greatest value fill parquet-mr's own `Statistics`; the page goes to
  * parquet-mr's page store (snappy, CRC, column and offset index) and
  * file writer (src/touches/parquet_writer.cpp:189-296).
  *
  * Spark's `FileFormatWriter` still owns the job: task commit, file
  * naming, `_SUCCESS` and any `Observation` on the written frame. Only
  * `prepareWrite` differs from Spark's parquet source, and the files
  * are the ones Spark's writer makes with the reference's knobs: the
  * same parquet schema (`SparkToParquetSchemaConverter` over the job
  * conf), the same footer KV pairs, PLAIN pages of parquet-mr's default
  * 20,000-row limit, dictionary off, snappy, ~20 MB row groups
  * (src/touches/parquet_writer.cpp:105-163, parquet_writer.h:56-59).
  * Row groups end on page boundaries.
  *
  * Only non-nullable byte/short/int/long/float/double fields are
  * written; any other field fails `prepareWrite`, on the driver, before
  * the job touches the output path.
  */
class PageParquetFormat protected (rowGroupBytes: Long) extends ParquetFileFormat {

  def this() = this(PageParquetFormat.RowGroupBytes)

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    dataSchema.fields.foreach { f =>
      require(!f.nullable && PageParquetFormat.Kinds.contains(f.dataType),
        s"page parquet sink: field `${f.name}` is ${if (f.nullable) "nullable " else ""}" +
          s"${f.dataType.simpleString}; only non-nullable byte, short, int, long, float " +
          "and double fields are written")
    }
    // Spark's own set-up of the job conf (schema, committer, no summary
    // files); its factory names the files
    val named = super.prepareWrite(spark, job, Map("compression" -> "snappy"), dataSchema)
    new PageWriterFactory(named, rowGroupBytes)
  }
}

object PageParquetFormat {
  /** The reference's row-group size (parquet_writer.h:56-59). */
  val RowGroupBytes: Long = 20L * 1024 * 1024
  val PageRows: Int = ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT
  /** The accepted field types, each with the writer's kind: kinds 0-3
    * are buffered as 32-bit words, 4-5 as 64-bit ones.
    */
  val Kinds: Map[DataType, Int] = Map(
    IntegerType -> 0, FloatType -> 1, ShortType -> 2, ByteType -> 3, LongType -> 4, DoubleType -> 5)
}

private class PageWriterFactory(named: OutputWriterFactory, rowGroupBytes: Long)
    extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    named.getFileExtension(context)
  override def newInstance(path: String, dataSchema: StructType,
                           context: TaskAttemptContext): OutputWriter =
    new PageWriter(path, dataSchema, context.getConfiguration, rowGroupBytes)
}

/** One part file: rows are copied into one page of primitive buffers
  * per column; a full page is encoded column by column into the
  * row group's page store, and a row group is flushed once its
  * compressed pages reach `rowGroupBytes`.
  */
private class PageWriter(filePath: String, dataSchema: StructType, conf: Configuration,
                         rowGroupBytes: Long) extends OutputWriter {
  import PageParquetFormat._

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
  // the footer KV pairs of Spark's `ParquetWriteSupport.init`
  private val meta = java.util.Map.of(
    "org.apache.spark.version", SPARK_VERSION_SHORT, // private[sql] SPARK_VERSION_METADATA_KEY
    ParquetReadSupport.SPARK_METADATA_KEY, conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA))

  private var rowGroups = 0
  private var store = newStore()
  private var rows = 0          // rows in the page buffers
  private var groupRows = 0L    // rows in the current row group's pages

  private def newStore() = new ColumnChunkPageWriteStore(compressor, schema, props.getAllocator,
    props.getColumnIndexTruncateLength, props.getPageWriteChecksumEnabled, null, rowGroups)

  override def path(): String = filePath

  // floatToIntBits / doubleToLongBits, as parquet-mr's plain writer:
  // every NaN is written as the canonical NaN
  override def write(row: InternalRow): Unit = {
    var c = 0
    while (c < n) {
      (kinds(c): @switch) match {
        case 0 => words(c)(rows) = row.getInt(c)
        case 1 => words(c)(rows) = java.lang.Float.floatToIntBits(row.getFloat(c))
        case 2 => words(c)(rows) = row.getShort(c)
        case 3 => words(c)(rows) = row.getByte(c)
        case 4 => longs(c)(rows) = row.getLong(c)
        case 5 => longs(c)(rows) = java.lang.Double.doubleToLongBits(row.getDouble(c))
      }
      c += 1
    }
    rows += 1
    if (rows == PageRows) flushPage()
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

  override def close(): Unit = {
    try {
      if (rows > 0) flushPage()
      if (groupRows > 0) flushRowGroup()
      file.end(meta)
    } finally {
      store.close()
      codecs.release()
    }
  }
}
