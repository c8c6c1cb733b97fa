package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import graft.io.TouchBinary
import graft.io.TouchBinary.TouchIndex
import graft.model.TouchModel
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for TouchDetector binary files — the
  * "custom connector" rung of the extension ladder (SURVEY.md §7.4's
  * "revisit for 100 TB") and the only decoder of touch records: a
  * planned Batch source over the layout table in `model.TouchModel`:
  *
  *  - **Split planning**: the fixed record width makes record-aligned
  *    byte-range splits exact — `planInputPartitions` carves each file
  *    into `maxBytesPerPartition` chunks (no line-sniffing, no skew),
  *    each an independent `PartitionReader`, so a 100 TB directory
  *    fans out across every executor with zero shuffle.
  *  - **Vectorized decode**: each split is read as column batches of up
  *    to 4096 records (Spark's parquet/ORC default): one positional read
  *    fills a reused byte array, and one loop per required field copies
  *    that field's word out of every record into a reused on-heap column
  *    vector. No per-record row or boxed value is made; Spark's codegen'd
  *    `ColumnarToRow` turns the batches into rows above the scan.
  *  - **Column pruning at DECODE time** (`SupportsPushDownRequiredColumns`):
  *    only the requested fields get a column vector and a fill loop — a
  *    2-column projection of a v3 file decodes 2 of 28 fields (the whole
  *    104-byte records are still read).
  *  - **Gid predicate pushdown** (`SupportsPushDownFilters`): range,
  *    `IN`, and `OR` predicates on `source_node_id` narrow each file's
  *    planned record ranges through its companion index's per-neuron
  *    (offset, count) entries — one record range PER DISJOINT gid
  *    interval, the Spark face of the reference's per-neuron
  *    `seek(pos)` loop (touch_reader.cpp:196-228, offsets :136-144):
  *    `IN (5, 9000)` reads two neuron blocks, not the hull between
  *    them. The pushed predicate is EXACT, so no residual `Filter` runs
  *    above the scan: the reader checks every decoded record's gid word,
  *    read from the raw record bytes, against the pushed intervals and
  *    drops the records outside them. Results never depend on the index
  *    being truthful — the index only chooses which record ranges are
  *    read; a query for k scattered neurons' touches reads those
  *    neurons' byte ranges, not the file.
  *  - **Metadata-only COUNT** (`SupportsPushDownAggregates`): an
  *    ungrouped, unfiltered `count(*)` (or `count(col)` — every touch
  *    column is non-nullable) is answered from file lengths alone
  *    (`length / recordSize` per file, summed by Spark), zero data
  *    bytes read — parquet's footer-count trick for a fixed-width
  *    format. With gid predicates pushed, COUNT is refused, so a
  *    filtered count takes the pruned-scan path and never trusts the
  *    index.
  *  - **Limit pushdown** (`SupportsPushDownLimit`, partial): an
  *    unfiltered `limit k` plans ~k records from the first file(s)
  *    instead of the whole directory — the interactive-peek path. Like
  *    COUNT, it is refused when gid predicates are pushed: both would
  *    count planned records before the exact gid check.
  *  - **Faithful synapse ids without a count job**: global row =
  *    `split start record + local index` is known statically from the
  *    split plan (no `zipWithIndex` counting pass), and the id uses the
  *    index's shifts lookup (touch_reader.cpp:275-288) carried in the
  *    serialized partition.
  *  - **Directory scans**: a directory path resolves to every `*Data*`
  *    file inside it in name order, each paired with its own companion
  *    index; all files must agree on the schema version (the
  *    parquet2hdf5.cpp:67-73 schema-agreement rule) or the load fails.
  *    Per-file endianness is allowed to differ — each split decodes
  *    with its own index's byte order. Synapse ids are unique within a
  *    file; across files uniqueness needs disjoint gid ranges (the
  *    reference's per-rank split invariant), so a projection that reads
  *    `synapse_id` REJECTS overlapping-range directories at planning —
  *    projections without it scan them freely.
  *  - **Hadoop FileSystem I/O**: lengths, listings, and reads go
  *    through `org.apache.hadoop.fs.FileSystem` (the session's Hadoop
  *    conf, broadcast once per scan as Spark's `FileScan` does), so the
  *    source works on any Hadoop-supported store, not just the local
  *    filesystem — and a file whose length is not a record multiple is
  *    rejected loudly at split planning, naming the byte offset of the
  *    partial record.
  *
  * Usage: `spark.read.format("touchbin").load(dataPathOrDir)` (registered
  * via `DataSourceRegister`) — schema, endianness, and version come
  * from the companion index files decoded by `io.TouchBinary.readIndex`.
  */
class TouchDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "touchbin"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "touchbin requires a path")
    p
  }

  /** The listing and index reads of [[inferSchema]], handed on to the
    * table [[getTable]] builds for the same path: one metadata pass per
    * load.
    */
  private[sources] var inferred: Option[(String, Seq[TouchDataSource.IndexedFile])] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options)
    val indexed = TouchDataSource.indexedDataFiles(path)
    inferred = Some(path -> indexed)
    TouchDataSource.schemaFor(indexed.head.index.version)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    new TouchTable(path,
      inferred.collect { case (`path`, indexed) => indexed }
        .getOrElse(TouchDataSource.indexedDataFiles(path)),
      Option(properties.get("maxBytesPerPartition")).map(_.toLong)
        .getOrElse(128L * 1024 * 1024))
  }
}

object TouchDataSource {

  /** One data file with its byte length (captured during the listing —
    * no second metadata round-trip at split planning) and its decoded
    * companion index.
    */
  final case class IndexedFile(path: String, length: Long, index: TouchIndex) {
    /** Whole records in the file; a length that is not a record
      * multiple is a truncated or corrupt file, rejected with the byte
      * offset where its partial record starts.
      */
    def numRecords: Long = {
      val recSize = index.version.recordSize
      require(length % recSize == 0,
        s"$path: length $length is not a multiple of the v${index.version.ordinal} " +
          s"record size $recSize — truncated or corrupt input " +
          s"(partial record at byte ${length - length % recSize})")
      length / recSize
    }
  }

  /** A directory resolves to its `*Data*` files in name order (the
    * index companion of `fooData.N` is `foo.N`, so only data files
    * carry "Data" in the name); a plain file resolves to itself.
    * Lengths come from the same listing.
    */
  def resolveDataFiles(path: String,
                       conf: Configuration = TouchBinary.hadoopConf()): Seq[(String, Long)] = {
    val p = new HadoopPath(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    if (!status.isDirectory) Seq(path -> status.getLen)
    else {
      val files = fs.listStatus(p).filter(_.isFile)
        .filter(_.getPath.getName.contains("Data"))
        .map(s => s.getPath.toString -> s.getLen).sortBy(_._1).toSeq
      require(files.nonEmpty, s"no touch data files (*Data*) under $path")
      files
    }
  }

  /** Every data file of `paths` (each a file or a directory) paired
    * with its decoded companion index, with the schema-agreement check
    * of the reference's multi-input converter (parquet2hdf5.cpp:67-73):
    * mixed record versions cannot share one schema, so the load fails
    * before any task runs. One Hadoop conf serves the listing and every
    * index read.
    */
  def indexedDataFiles(paths: String*): Seq[IndexedFile] = {
    val conf = TouchBinary.hadoopConf()
    val indexed = paths.flatMap(resolveDataFiles(_, conf)).map { case (f, len) =>
      IndexedFile(f, len, TouchBinary.readIndex(TouchBinary.indexFileFor(f), conf)) }
    val versions = indexed.map(_.index.version).distinct
    require(versions.size == 1,
      s"touch inputs disagree on schema version: " +
        indexed.map(f => s"${f.path}=v${f.index.version.ordinal}").mkString(", "))
    indexed
  }

  /** `synapse_id` is `(gid << 24) + ordinal-within-gid` per FILE — it is
    * only globally unique when the files' gid ranges are disjoint (the
    * reference's per-rank split guarantees this). The ranges come from
    * the indexes, so the check is conservative: an index whose
    * short-read zero-padding pulls firstGid to 0 widens its claimed
    * range. Directory scans and the CLI's multi-input union share it.
    */
  def requireDisjointGidRanges(indexed: Seq[IndexedFile]): Unit = {
    val ranges = indexed
      .filter(_.index.shifts.nonEmpty)
      .map(f => (f.path, f.index.firstGid.toLong,
        f.index.firstGid.toLong + math.max(0, f.index.shifts.length - 1)))
    ranges.sortBy(_._2).sliding(2).foreach {
      case Seq((pa, _, aHi), (pb, bLo, _)) =>
        require(aHi < bLo,
          s"gid ranges overlap between $pa (..$aHi) and $pb ($bLo..) — " +
            "synapse_id would collide across files; drop the synapse_id " +
            "column to scan overlapping inputs")
      case _ => ()
    }
  }

  /** Records per column batch: Spark's parquet/ORC reader default. */
  val BatchRecords = 4096

  def schemaFor(version: TouchModel.Version): StructType =
    StructType(TouchModel.fieldsFor(version).map(f =>
      StructField(f.name, f.dataType, nullable = false)))

  /** Decodes field `f` of the `n` records at the head of `b` into
    * `v`; the first of them is record `first` of `split`'s file. Plain
    * fields read their `TouchModel.Layout` word; the derived and guarded
    * fields are decoded by name, and a guard names the file and byte.
    */
  private[sources] def fill(f: TouchModel.Field, split: TouchSplit, b: ByteBuffer,
                            n: Int, first: Long, v: WritableColumnVector): Unit = {
    val recSize = split.index.version.recordSize
    val off = f.offset
    f.name match {
      case "synapse_id" =>
        val index = split.index
        var i = 0
        while (i < n) {
          val gid = b.getInt(i * recSize + off)
          val k = first + i - index.shiftOf(gid)
          if (k >= (1L << 24))
            throw new IllegalStateException(s"${split.path}: byte ${(first + i) * recSize + off}: " +
              s"gid $gid has more than 2^24 touches, can't assign unique synapse indices")
          v.putLong(i, (gid.toLong << 24) + k)
          i += 1
        }
      case "efferent_section_id" =>
        val gidOff = TouchModel.field("source_node_id").offset
        var i = 0
        while (i < n) {
          val s = b.getInt(i * recSize + off)
          // hard guard from parquet_writer.cpp:207-219
          if (s > 0x7fff)
            throw new IllegalStateException(s"${split.path}: byte ${(first + i) * recSize + off}: " +
              s"Invalid pre_section $s for gid ${b.getInt(i * recSize + gidOff)} — check endianness")
          v.putShort(i, s.toShort)
          i += 1
        }
      // nibble unpack + MorphIO +1 soma offset (parquet_writer.h:63-69)
      case "efferent_section_type" =>
        var i = 0
        while (i < n) { v.putByte(i, (((b.get(i * recSize + off) >> 4) & 0xf) + 1).toByte); i += 1 }
      case "afferent_section_type" =>
        var i = 0
        while (i < n) { v.putByte(i, ((b.get(i * recSize + off) & 0xf) + 1).toByte); i += 1 }
      case _ if f.derived =>
        throw new IllegalStateException(s"touch field ${f.name} is derived but has no decoder")
      case _ => f.dataType match {
        case IntegerType =>
          var i = 0
          while (i < n) { v.putInt(i, b.getInt(i * recSize + off)); i += 1 }
        case ShortType =>
          var i = 0
          while (i < n) { v.putShort(i, b.getInt(i * recSize + off).toShort); i += 1 }
        case ByteType =>
          var i = 0
          while (i < n) { v.putByte(i, b.getInt(i * recSize + off).toByte); i += 1 }
        case FloatType =>
          var i = 0
          while (i < n) { v.putFloat(i, b.getFloat(i * recSize + off)); i += 1 }
        case t => throw new IllegalStateException(s"touch field ${f.name}: no decoder for $t")
      }
    }
  }

  /** Moves rows `sel(0) < sel(1) < … < sel(m - 1)` of `v` to rows
    * `0 … m - 1`, in place (each `sel(j) >= j`, so no row is read
    * after it is overwritten).
    */
  private[sources] def compact(v: WritableColumnVector, sel: Array[Int], m: Int): Unit = {
    var j = 0
    v.dataType match {
      case LongType => while (j < m) { v.putLong(j, v.getLong(sel(j))); j += 1 }
      case IntegerType => while (j < m) { v.putInt(j, v.getInt(sel(j))); j += 1 }
      case ShortType => while (j < m) { v.putShort(j, v.getShort(sel(j))); j += 1 }
      case ByteType => while (j < m) { v.putByte(j, v.getByte(sel(j))); j += 1 }
      case FloatType => while (j < m) { v.putFloat(j, v.getFloat(sel(j))); j += 1 }
      case t => throw new IllegalStateException(s"touch column of type $t cannot be compacted")
    }
  }
}

private[sources] class TouchTable(path: String,
    private[sources] val indexed: Seq[TouchDataSource.IndexedFile],
    maxBytesPerPartition: Long) extends Table with SupportsRead {
  override def name(): String = s"touchbin:$path"
  override def schema(): StructType = TouchDataSource.schemaFor(indexed.head.index.version)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TouchScanBuilder(path, indexed, schema(), maxBytesPerPartition)
}

/** Closed-interval union algebra over `source_node_id` — shared by the
  * plan-time pushdown (TouchScanBuilder) and the RUNTIME filter path
  * (TouchScan's SupportsRuntimeV2Filtering face).
  */
private[sources] object GidIntervals {

  def num(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Sort + merge overlapping/adjacent closed intervals. */
  def normalize(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val sorted = iv.filter { case (lo, hi) => lo <= hi }.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { case (lo, hi) =>
      // adjacency check without `+ 1` on hi (Long.MaxValue would wrap)
      if (out.nonEmpty && (lo <= out.last._2 || lo - 1 <= out.last._2)) {
        val (plo, phi) = out.remove(out.length - 1)
        out += ((plo, math.max(phi, hi)))
      } else out += ((lo, hi))
    }
    out.toSeq
  }

  /** Intersection of two NORMALIZED interval unions (two-pointer sweep). */
  def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.toSeq
  }

  /** Source-gid interval UNION implied by a filter on `source_node_id`
    * — the column the companion index keys its per-neuron record
    * offsets on. `In` and `Or` yield one interval per disjunct (the
    * reference services scattered neurons via per-neuron seeks,
    * touch_reader.cpp:196-228 — one [min,max] hull would prune nothing
    * between the extremes); `And` intersects. `None` = filter unusable
    * for pruning; `Some(Nil)` = provably empty.
    */
  def intervalsOf(f: sources.Filter): Option[Seq[(Long, Long)]] = f match {
    case sources.EqualTo("source_node_id", v) => num(v).map(x => Seq((x, x)))
    case sources.In("source_node_id", vs) =>
      val xs = vs.toSeq.map(num)
      // a null in the list defeats pruning (null never matches, but the
      // residual filter decides that — stay conservative)
      if (xs.forall(_.isDefined)) Some(normalize(xs.flatten.map(x => (x, x)))) else None
    case sources.GreaterThan("source_node_id", v) =>
      num(v).map(x => if (x == Long.MaxValue) Seq.empty else Seq((x + 1, Long.MaxValue)))
    case sources.GreaterThanOrEqual("source_node_id", v) => num(v).map(x => Seq((x, Long.MaxValue)))
    case sources.LessThan("source_node_id", v) =>
      num(v).map(x => if (x == Long.MinValue) Seq.empty else Seq((Long.MinValue, x - 1)))
    case sources.LessThanOrEqual("source_node_id", v) => num(v).map(x => Seq((Long.MinValue, x)))
    case sources.And(l, r) =>
      for { a <- intervalsOf(l); b <- intervalsOf(r) } yield intersect(normalize(a), normalize(b))
    case sources.Or(l, r) =>
      for { a <- intervalsOf(l); b <- intervalsOf(r) } yield normalize(a ++ b)
    case _ => None
  }

  /** A sorted, disjoint interval union as bound arrays: the reader's
    * per-record membership test.
    */
  final case class Bounds(lo: Array[Long], hi: Array[Long]) {
    def contains(x: Long): Boolean = {
      val r = java.util.Arrays.binarySearch(lo, x)
      val k = if (r >= 0) r else -r - 2 // last interval starting at or below x
      k >= 0 && x <= hi(k)
    }
  }

  /** `iv` must be sorted and disjoint, as every pushed union is. */
  def bounds(iv: Seq[(Long, Long)]): Bounds = Bounds(iv.map(_._1).toArray, iv.map(_._2).toArray)
}

private[sources] class TouchScanBuilder(path: String,
    indexed: Seq[TouchDataSource.IndexedFile],
    fullSchema: StructType, maxBytesPerPartition: Long)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var accepted: Array[sources.Filter] = Array.empty
  private var gidIntervals: Option[Seq[(Long, Long)]] = None
  private var countsPushed = 0
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the table's field order for a stable layout
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  import GidIntervals.{intersect, intervalsOf, normalize}

  /** Exact gid-range pushdown (the Spark face of the reference's
    * `seek(pos)`, touch_reader.cpp:196-228): gid predicates on
    * `source_node_id` narrow each file's planned record ranges via its
    * companion index — one range per disjoint gid interval, so
    * `IN (5, 9000)` reads two neuron blocks, not the hull between them
    * — and the reader checks every record it decodes against the same
    * intervals. Only the filters [[GidIntervals.intervalsOf]] cannot
    * read are returned as residuals; the index chooses which records
    * are read, never which ones are returned.
    */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (gid, rest) = filters.partition(f => intervalsOf(f).isDefined)
    accepted = gid
    gidIntervals = accepted.foldLeft(Option.empty[Seq[(Long, Long)]]) { (acc, f) =>
      val iv = normalize(intervalsOf(f).get)
      Some(acc.fold(iv)(intersect(_, iv)))
    }
    rest
  }

  override def pushedFilters(): Array[sources.Filter] = accepted

  /** COUNT answered from FILE LENGTHS, no data I/O — the fixed record
    * width makes `length / recordSize` an exact row count, the same
    * metadata-only count parquet answers from footer row counts. Only
    * ungrouped, non-distinct counts qualify (`count(*)`, or `count(col)`
    * of any touch column — all are non-nullable, so both equal the
    * record count). Catalyst only offers an aggregate for pushdown when
    * no residual filter sits between it and the scan; a count over
    * pushed gid predicates is refused, because file lengths count
    * planned records before the exact gid check, so a filtered count
    * takes the normal pruned-scan path and this fast path can never
    * hinge on the index being truthful — it trusts only the record
    * width, which the scan already requires of every file. Pushdown is
    * PARTIAL (one per-file count row, summed by Spark), so a count over
    * a 100k-file directory is a listing, not a read.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def countable(e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
        : Boolean = e match {
      case _: CountStar => true
      case c: Count => !c.isDistinct && (c.column match {
        case r: NamedReference =>
          r.fieldNames.length == 1 && fullSchema.fieldNames.contains(r.fieldNames.head)
        case _ => false
      })
      case _ => false
    }
    val ok = accepted.isEmpty && aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.nonEmpty &&
      aggregation.aggregateExpressions.forall(countable)
    if (ok) countsPushed = aggregation.aggregateExpressions.length
    ok
  }

  /** LIMIT caps the PLANNED record total (partial pushdown — Spark
    * still applies the final limit): `df.limit(k)` on a touch directory
    * reads ~k records from the first file instead of every byte. Like
    * the count path, Catalyst only offers a limit when no residual
    * filter sits below it, and it is refused over pushed gid
    * predicates, whose planned records may include non-matching ones.
    */
  override def pushLimit(l: Int): Boolean =
    if (accepted.nonEmpty) false else { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    if (countsPushed > 0) new TouchCountScan(path, indexed, countsPushed)
    else new TouchScan(path, indexed, required, maxBytesPerPartition, gidIntervals, limit)
}

/** Metadata-only COUNT scan: one split per file, each emitting a single
  * row of that file's record count (`length / recordSize`) — zero data
  * bytes read. Spark sums the per-file partials.
  */
private[sources] class TouchCountScan(path: String,
    indexed: Seq[TouchDataSource.IndexedFile], nCounts: Int) extends Scan with Batch {

  override def readSchema(): StructType =
    StructType((1 to nCounts).map(i => StructField(s"count_$i", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"touchbin-count $path files=${indexed.size} PushedAggregates: count (metadata-only)"

  override def planInputPartitions(): Array[InputPartition] =
    indexed.map(f => TouchCountSplit(f.numRecords): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new TouchCountReaderFactory(nCounts)
}

private[sources] case class TouchCountSplit(numRecords: Long) extends InputPartition

private[sources] class TouchCountReaderFactory(nCounts: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val n = partition.asInstanceOf[TouchCountSplit].numRecords
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow =
        new GenericInternalRow(Array.fill[Any](nCounts)(n))
      override def close(): Unit = ()
    }
  }
}

/** One record-aligned byte range of one file; carries that file's own
  * index so every split decodes with the correct shifts and byte order.
  */
private[sources] case class TouchSplit(
    path: String, startRecord: Long, numRecords: Long,
    index: TouchIndex) extends InputPartition

/** `planTimeIntervals` are the pushed gid predicates: they prune splits
  * and are checked per record. Runtime (DPP) intervals only prune:
  * Spark keeps the join above them.
  */
private[sources] class TouchScan(path: String,
    indexed: Seq[TouchDataSource.IndexedFile],
    required: StructType, maxBytesPerPartition: Long,
    planTimeIntervals: Option[Seq[(Long, Long)]] = None,
    limit: Option[Int] = None)
  extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  /** Plan-time pushdown ∩ any runtime filter delivered after planning
    * (dynamic pruning): [[filter]] narrows this before
    * [[planInputPartitions]] runs on the executor-side batch.
    */
  @volatile private var gidIntervals: Option[Seq[(Long, Long)]] = planTimeIntervals

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"touchbin $path v${indexed.head.index.version.ordinal} " +
      s"files=${indexed.size} cols=[${required.fieldNames.mkString(",")}]" +
      gidIntervals.fold("")(iv =>
        s" PushedGidRanges: ${iv.map { case (a, b) => s"[$a,$b]" }.mkString("∪")}") +
      limit.fold("")(l => s" PushedLimit: $l")

  /** The DYNAMIC face of the gid pushdown (`SupportsRuntimeFiltering`):
    * when this scan sits under a join on `source_node_id`, Spark can
    * deliver the build side's key set at RUNTIME (dynamic partition
    * pruning for V2 sources) — the filter arrives here after planning
    * but before split enumeration, and intersects into the same
    * interval algebra the static pushdown uses, so a broadcast-joined
    * neuron dimension prunes record ranges exactly like a literal
    * `IN`. Unlike the static path, runtime intervals only prune: the
    * reader does not check them, because Spark keeps the join above
    * the scan, and a filter this scan cannot interpret is simply
    * ignored (no pruning, never a wrong result).
    */
  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("source_node_id"))

  override def filter(filters: Array[sources.Filter]): Unit = {
    val ivs = filters.toSeq.flatMap(f => GidIntervals.intervalsOf(f))
    if (ivs.nonEmpty) {
      val runtime = ivs.map(GidIntervals.normalize)
        .reduce(GidIntervals.intersect)
      gidIntervals = Some(gidIntervals.fold(runtime)(
        iv => GidIntervals.intersect(GidIntervals.normalize(iv), runtime)))
      cachedStats = None // pruning state changed → stale record total
    }
  }

  /** Catalyst may ask a V2 scan for statistics several times while
    * costing join alternatives, and each call would otherwise re-run
    * full split enumeration (including the disjoint-gid-range walk over
    * every file index) — O(files) repeated driver work on large
    * directories. Memoized per pruning state; [[filter]] invalidates
    * when a runtime gid filter narrows the intervals.
    */
  @volatile private var cachedStats: Option[Statistics] = None

  /** EXACT statistics from the fixed record width — the planned record
    * total (after any static/runtime gid pruning and limit) and its
    * byte size, so Catalyst's join planning sees the PRUNED size of a
    * touch side: a scan narrowed to a few neuron blocks becomes
    * broadcast-eligible instead of being costed at directory size.
    * Row width for the size estimate is the FULL record (decode cost is
    * I/O-bound on the record, not the projected columns).
    */
  override def estimateStatistics(): Statistics = cachedStats.getOrElse {
    val recSize = indexed.head.index.version.recordSize
    val n = planInputPartitions()
      .map(_.asInstanceOf[TouchSplit].numRecords).sum
    val st = new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(n * recSize)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(n)
    }
    cachedStats = Some(st)
    st
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // synapse_id is only well-defined across files with disjoint gid
    // ranges; a projection without it can scan overlapping inputs freely
    if (required.fieldNames.contains("synapse_id"))
      TouchDataSource.requireDisjointGidRanges(indexed)
    val splits = indexed.flatMap { case f @ TouchDataSource.IndexedFile(file, _, index) =>
      val recSize = index.version.recordSize
      val nRecords = f.numRecords
      // pushed gid intervals → this file's record ranges from ITS OWN
      // index (clamped: an index may claim records past a short data
      // file; ranges come back merged-disjoint so no record plans
      // twice); None = index unusable for pruning, scan the whole file
      val ranges = gidIntervals
        .flatMap(iv => index.recordRangesFor(iv))
        .map(_.map { case (s, e) => (math.min(s, nRecords), math.min(e, nRecords)) }
          .filter { case (s, e) => e > s })
        .getOrElse(Seq((0L, nRecords)))
      val perSplit = math.max(1L, maxBytesPerPartition / recSize)
      ranges.flatMap { case (rLo, rHi) =>
        (rLo until rHi by perSplit).map { start =>
          TouchSplit(file, start, math.min(perSplit, rHi - start), index)
        }
      }
    }
    // pushed limit (partial — Spark re-applies it): keep splits only
    // until the planned record total covers the limit, trimming the
    // last one, so `limit k` reads ~k records instead of the directory
    limit match {
      case None => splits.toArray
      case Some(l) =>
        var remaining = l.toLong
        splits.iterator.takeWhile(_ => remaining > 0).map { s =>
          val take = math.min(s.numRecords, remaining)
          remaining -= take
          s.copy(numRecords = take): InputPartition
        }.toArray
    }
  }

  /** Every split is read as column batches (see [[TouchReaderFactory]]). */
  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.SUPPORTED

  /** The session's Hadoop conf is broadcast once per scan, as Spark's
    * `FileScan` does, instead of riding in every task. Its carrier is
    * Spark's own, which the Java and the Kryo serializer both
    * round-trip.
    */
  override def createReaderFactory(): PartitionReaderFactory = {
    val session = SparkSession.active
    new TouchReaderFactory(
      session.sparkContext.broadcast(
        new SerializableConfiguration(session.sessionState.newHadoopConf())),
      required.fieldNames, planTimeIntervals.map(GidIntervals.bounds))
  }
}

/** Columnar reader of one split: each batch `readFully`s up to
  * [[TouchDataSource.BatchRecords]] records into one reused byte array
  * and fills one reused column vector per required field. With `keep`
  * set, records whose gid word lies outside it are dropped from the
  * batch after decoding, so `synapse_id` still comes from each record's
  * own position.
  */
private[sources] class TouchReaderFactory(
    private[sources] val conf: Broadcast[SerializableConfiguration],
    fields: Array[String], keep: Option[GidIntervals.Bounds]) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("touchbin splits are read as column batches")

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val split = partition.asInstanceOf[TouchSplit]
    new PartitionReader[ColumnarBatch] {
      private val recSize = split.index.version.recordSize
      private val layout = fields.map(TouchModel.field)
      private val capacity = math.min(TouchDataSource.BatchRecords.toLong, split.numRecords).toInt
      private val bytes = new Array[Byte](capacity * recSize)
      private val buf = ByteBuffer.wrap(bytes)
        .order(if (split.index.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      private val vectors = layout.map(f => new OnHeapColumnVector(capacity, f.dataType))
      private val batch = new ColumnarBatch(vectors.toArray[ColumnVector])
      private val in = {
        val p = new HadoopPath(split.path)
        p.getFileSystem(conf.value.value).open(p)
      }
      private val gidOff = TouchModel.field("source_node_id").offset
      private val sel = if (keep.isDefined) new Array[Int](capacity) else null
      private var done = 0L

      // next() decodes the next batch with a matching record into the
      // reused vectors; get() returns it until the following next()
      override def next(): Boolean = {
        while (done < split.numRecords) {
          val n = math.min(capacity.toLong, split.numRecords - done).toInt
          val first = split.startRecord + done
          // positional readFully: fails loudly on a short read
          in.readFully(first * recSize, bytes, 0, n * recSize)
          var c = 0
          while (c < layout.length) {
            TouchDataSource.fill(layout(c), split, buf, n, first, vectors(c))
            c += 1
          }
          done += n
          val m = keep.fold(n)(matching(_, n))
          if (m < n) vectors.foreach(TouchDataSource.compact(_, sel, m))
          if (m > 0) { batch.setNumRows(m); return true }
        }
        false
      }

      /** Records of the batch whose gid word is in `k`; their positions
        * go to `sel`.
        */
      private def matching(k: GidIntervals.Bounds, n: Int): Int = {
        var m = 0
        var i = 0
        while (i < n) {
          if (k.contains(buf.getInt(i * recSize + gidOff))) { sel(m) = i; m += 1 }
          i += 1
        }
        m
      }

      override def get(): ColumnarBatch = batch

      override def close(): Unit = try in.close() finally batch.close()
    }
  }
}
