package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import graft.io.TouchBinary
import graft.io.TouchBinary.TouchIndex
import graft.model.TouchModel
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
  *  - **Column pruning at DECODE time** (`SupportsPushDownRequiredColumns`):
  *    only the requested fields are read out of each record's
  *    ByteBuffer — a 2-column projection of a v3 file touches 8 of 104
  *    bytes per record instead of materializing all 28 fields.
  *  - **Gid predicate pushdown** (`SupportsPushDownFilters`): range,
  *    `IN`, and `OR` predicates on `source_node_id` narrow each file's
  *    planned record ranges through its companion index's per-neuron
  *    (offset, count) entries — one record range PER DISJOINT gid
  *    interval, the Spark face of the reference's per-neuron
  *    `seek(pos)` loop (touch_reader.cpp:196-228, offsets :136-144):
  *    `IN (5, 9000)` reads two neuron blocks, not the hull between
  *    them. Pruning is split-planning only: every filter stays a
  *    post-scan residual, so results never depend on the index being
  *    truthful; a query for k scattered neurons' touches reads those
  *    neurons' byte ranges, not the file.
  *  - **Metadata-only COUNT** (`SupportsPushDownAggregates`): an
  *    ungrouped, unfiltered `count(*)` (or `count(col)` — every touch
  *    column is non-nullable) is answered from file lengths alone
  *    (`length / recordSize` per file, summed by Spark), zero data
  *    bytes read — parquet's footer-count trick for a fixed-width
  *    format. Gid predicates stay residual Filter nodes, so a filtered
  *    count takes the pruned-scan path and never trusts the index.
  *  - **Limit pushdown** (`SupportsPushDownLimit`, partial): `limit k`
  *    plans ~k records from the first file(s) instead of the whole
  *    directory — the interactive-peek path.
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
  *    conf, serialized to executors), so the source works on any
  *    Hadoop-supported store, not just the local filesystem — and a
  *    file whose length is not a record multiple is rejected loudly at
  *    split planning, naming the byte offset of the partial record.
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

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TouchDataSource.schemaFor(
      TouchDataSource.indexedDataFiles(pathOf(options)).head.index.version)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TouchTable(properties.get("path"),
      Option(properties.get("maxBytesPerPartition")).map(_.toLong)
        .getOrElse(128L * 1024 * 1024))
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
  def resolveDataFiles(path: String): Seq[(String, Long)] = {
    val p = new HadoopPath(path)
    val fs = p.getFileSystem(TouchBinary.hadoopConf())
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
    * before any task runs.
    */
  def indexedDataFiles(paths: String*): Seq[IndexedFile] = {
    val indexed = paths.flatMap(resolveDataFiles).map { case (f, len) =>
      IndexedFile(f, len, TouchBinary.readIndex(TouchBinary.indexFileFor(f))) }
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

  def schemaFor(version: TouchModel.Version): StructType =
    StructType(TouchModel.fieldsFor(version).map(f =>
      StructField(f.name, f.dataType, nullable = false)))

  /** Per-field decoder: (record buffer, record base, global row) →
    * Catalyst value. Plain fields read their `TouchModel.Layout` word;
    * the derived and guarded fields are decoded by name.
    */
  private[sources] def extractor(name: String, index: TouchIndex):
      (ByteBuffer, Int, Long) => Any = {
    val f = TouchModel.field(name)
    val off = f.offset
    f.name match {
      case "synapse_id" => (b, base, row) => {
        val gid = b.getInt(base + off)
        val k = row - index.shiftOf(gid)
        if (k >= (1L << 24))
          throw new IllegalStateException(
            s"gid $gid has more than 2^24 touches, can't assign unique synapse indices")
        (gid.toLong << 24) + k
      }
      case "efferent_section_id" =>
        val gidOff = TouchModel.field("source_node_id").offset
        (b, base, _) => {
          val s = b.getInt(base + off)
          // hard guard from parquet_writer.cpp:207-219
          if (s > 0x7fff) throw new IllegalStateException(
            s"Invalid pre_section $s for gid ${b.getInt(base + gidOff)} — check endianness")
          s.toShort
        }
      // nibble unpack + MorphIO +1 soma offset (parquet_writer.h:63-69)
      case "efferent_section_type" => (b, base, _) =>
        ((((b.get(base + off).toInt & 0xff) >> 4) & 0xf) + 1).toByte
      case "afferent_section_type" => (b, base, _) =>
        (((b.get(base + off).toInt & 0xff) & 0xf) + 1).toByte
      case _ if f.derived =>
        throw new IllegalStateException(s"touch field $name is derived but has no decoder")
      case _ => f.dataType match {
        case IntegerType => (b, base, _) => b.getInt(base + off)
        case ShortType => (b, base, _) => b.getInt(base + off).toShort
        case ByteType => (b, base, _) => b.getInt(base + off).toByte
        case FloatType => (b, base, _) => b.getFloat(base + off)
        case t => throw new IllegalStateException(s"touch field $name: no decoder for $t")
      }
    }
  }
}

/** Java-serializable Hadoop `Configuration` carrier (the Spark-internal
  * equivalent is `private[spark]`): Configuration is a Writable, so the
  * wrapper round-trips it through its own wire format.
  */
private[sources] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[sources] class TouchTable(path: String, maxBytesPerPartition: Long)
    extends Table with SupportsRead {
  private lazy val indexed = TouchDataSource.indexedDataFiles(path)
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

  /** Gid-range pushdown as SPLIT PRUNING (the Spark face of the
    * reference's `seek(pos)`, touch_reader.cpp:196-228): gid predicates
    * on `source_node_id` narrow each file's planned record ranges via
    * its companion index — one range per disjoint gid interval, so
    * `IN (5, 9000)` reads two neuron blocks, not the hull between
    * them. EVERY filter is returned as a residual — the index bounds
    * which record ranges can hold matching gids, Spark still evaluates
    * the predicate per row, so pruning can never change results, only
    * skip I/O.
    */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    accepted = filters.filter(f => intervalsOf(f).isDefined)
    gidIntervals = accepted.foldLeft(Option.empty[Seq[(Long, Long)]]) { (acc, f) =>
      val iv = normalize(intervalsOf(f).get)
      Some(acc.fold(iv)(intersect(_, iv)))
    }
    filters
  }

  override def pushedFilters(): Array[sources.Filter] = accepted

  /** COUNT answered from FILE LENGTHS, no data I/O — the fixed record
    * width makes `length / recordSize` an exact row count, the same
    * metadata-only count parquet answers from footer row counts. Only
    * ungrouped, non-distinct counts qualify (`count(*)`, or `count(col)`
    * of any touch column — all are non-nullable, so both equal the
    * record count). Catalyst only offers an aggregate for pushdown when
    * nothing sits between it and the scan, and every gid predicate
    * stays a post-scan residual (a Filter node), so a filtered count
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
    val ok = aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.nonEmpty &&
      aggregation.aggregateExpressions.forall(countable)
    if (ok) countsPushed = aggregation.aggregateExpressions.length
    ok
  }

  /** LIMIT caps the PLANNED record total (partial pushdown — Spark
    * still applies the final limit): `df.limit(k)` on a touch directory
    * reads ~k records from the first file instead of every byte. Like
    * the count path, Catalyst only offers a limit when no residual
    * filter sits below it.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
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
    * `IN`. Same safety contract as the static path: pruning only skips
    * I/O — Spark keeps every predicate as a post-scan residual, and a
    * filter this scan cannot interpret is simply ignored (no pruning,
    * never a wrong result).
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

  override def createReaderFactory(): PartitionReaderFactory =
    new TouchReaderFactory(
      new SerializableHadoopConf(TouchBinary.hadoopConf()),
      required.fieldNames)
}

private[sources] class TouchReaderFactory(conf: SerializableHadoopConf,
    fields: Array[String]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[TouchSplit]
    new PartitionReader[InternalRow] {
      private val index = split.index
      private val recSize = index.version.recordSize
      private val order =
        if (index.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
      private val extractors = fields.map(TouchDataSource.extractor(_, index))
      private val in = {
        val p = new HadoopPath(split.path)
        p.getFileSystem(conf.value).open(p)
      }
      // read in ~4 MiB record-aligned chunks
      private val recsPerChunk = math.max(1, (4 << 20) / recSize)
      private var chunk: ByteBuffer = _
      private var chunkRecs = 0
      private var chunkIdx = 0
      private var emitted = 0L
      private var current: InternalRow = _

      // PartitionReader contract: next() ADVANCES to the next record,
      // get() returns the current one and must be repeatable
      override def next(): Boolean = {
        if (emitted >= split.numRecords) return false
        if (chunk == null || chunkIdx >= chunkRecs) {
          val n = math.min(recsPerChunk.toLong, split.numRecords - emitted).toInt
          val bytes = new Array[Byte](n * recSize)
          // positional readFully: fails loudly on a short read
          in.readFully((split.startRecord + emitted) * recSize, bytes, 0, bytes.length)
          chunk = ByteBuffer.wrap(bytes).order(order); chunkRecs = n; chunkIdx = 0
        }
        val base = chunkIdx * recSize
        // fresh row per record: downstream operators may buffer rows
        val row = new GenericInternalRow(fields.length)
        var i = 0
        while (i < extractors.length) {
          row.update(i, extractors(i)(chunk, base, split.startRecord + emitted))
          i += 1
        }
        chunkIdx += 1; emitted += 1
        current = row
        true
      }

      override def get(): InternalRow = current

      override def close(): Unit = in.close()
    }
  }
}
