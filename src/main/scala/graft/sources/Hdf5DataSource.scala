package graft.sources

import java.util

import graft.io.Hdf5Mini
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

/** DataSource V2 connector for SONATA HDF5 edge containers — the
  * container the sink ([[graft.pipelines.SonataH5]]) writes becomes a
  * first-class planned Spark source (`spark.read.format("sonatah5")
  * .option("population", p).load(file)`) and the only reader of its
  * edge table:
  *
  *  - **True columnar pruning** (`SupportsPushDownRequiredColumns`):
  *    every SONATA column is its own contiguous dataset region, so a
  *    2-column projection positional-reads exactly those two regions'
  *    slices — column pruning here skips BYTES ON DISK, not just
  *    decode work (stronger than the touch source, whose rows are
  *    interleaved in fixed-width records).
  *  - **edge_id range pushdown** (`SupportsPushDownFilters`): edge_id
  *    IS the row index of every dataset (the sink writes the total
  *    order at position = edge_id), so range/IN/OR predicates on it
  *    map straight to planned row ranges — the hyperslab-select face
  *    of the reference's index traversal (src/index/index.cpp:157-180).
  *    The planned ranges ARE the predicate, so `edge_id` filters are
  *    not returned as residuals and no `Filter` runs above the scan;
  *    only filters on other columns stay residual.
  *  - **Metadata-only COUNT** (`SupportsPushDownAggregates`): the
  *    dataspace dims in the file header ARE the row count; an
  *    ungrouped count(*) / count(col) (all columns non-nullable) reads
  *    zero data bytes — over pushed `edge_id` predicates it counts the
  *    pruned row ranges.
  *  - **Limit pushdown** (`SupportsPushDownLimit`, partial): `limit k`
  *    plans ~k rows, of the pruned ranges when `edge_id` predicates are
  *    pushed.
  *  - **Exact statistics** (`SupportsReportStatistics`): the planned
  *    (pruned) row count × the pruned row width, so a scan narrowed by
  *    an edge_id range or projection is costed at its true size and
  *    becomes broadcast-eligible.
  *
  * Split planning carves the pruned row ranges into
  * `maxBytesPerPartition` chunks of the PRUNED row width; each
  * partition positional-reads its slice of each required column
  * ([[Hdf5Mini.readSlice]] — the MPI-IO independent-transfer read
  * model). Driver-side metadata is one [[Hdf5Mini.readMeta]] parse of
  * the few-KB header prefix per load: the provider hands the layout its
  * [[inferSchema]] parsed to the table [[getTable]] builds.
  */
class Hdf5DataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "sonatah5"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "sonatah5 requires a path")
    p
  }

  /** [[inferSchema]]'s layout, keyed by (path, population). */
  private[sources] var inferred: Option[((String, Option[String]), Hdf5DataSource.Layout)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val key = (pathOf(options), Option(options.get("population")))
    val layout = Hdf5DataSource.layout(key._1, key._2)
    inferred = Some(key -> layout)
    layout.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val key = (properties.get("path"), Option(properties.get("population")))
    new Hdf5Table(key._1,
      inferred.collect { case (`key`, layout) => layout }
        .getOrElse(Hdf5DataSource.layout(key._1, key._2)),
      Option(properties.get("maxBytesPerPartition")).map(_.toLong)
        .getOrElse(128L * 1024 * 1024))
  }
}

object Hdf5DataSource {

  /** One edge column: name, on-disk type, data address (contiguous) or
    * the chunk placement index (chunked layout — round 14: chunked
    * columns are planned first-class; each split ships only the index
    * slice covering its rows).
    */
  final case class ColMeta(name: String, dtype: Hdf5Mini.H5Type, address: Long,
                           chunk: Option[Hdf5Mini.ChunkIndex] = None)

  final case class Layout(population: String, nRows: Long, cols: Seq[ColMeta]) {
    def schema: StructType =
      StructType(StructField("edge_id", LongType, nullable = false) +:
        cols.map(c => StructField(c.name, sparkType(c.dtype), nullable = false)))
  }

  def sparkType(t: Hdf5Mini.H5Type): DataType = t match {
    case Hdf5Mini.I32 => IntegerType
    case Hdf5Mini.I16 => ShortType
    case Hdf5Mini.I8  => ByteType
    case Hdf5Mini.F32 => FloatType
    case Hdf5Mini.F64 => DoubleType
    // I64 and all unsigned widths widen to LongType (zero-extended)
    case _ => LongType
  }

  /** Metadata-prefix parse → the edge-table layout: the top-level
    * node/type datasets the sink ([[graft.pipelines.SonataH5]]) writes,
    * then the `0/` property group name-sorted, `@library` excluded.
    */
  def layout(path: String, population: Option[String]): Layout = {
    val f = Hdf5Mini.readMeta(path)
    val pops = f.datasets.keys.flatMap { p =>
      val segs = p.split('/')
      if (segs.length > 2 && segs(1) == "edges") Some(segs(2)) else None
    }.toSeq.distinct.sorted
    require(pops.nonEmpty, s"sonatah5: no /edges/<population> tree in $path")
    val pop = population.getOrElse {
      require(pops.size == 1,
        s"sonatah5: $path has populations ${pops.mkString(",")} — pass .option(\"population\", ...)")
      pops.head
    }
    require(pops.contains(pop), s"sonatah5: no population $pop in $path (have ${pops.mkString(",")})")
    val base = s"/edges/$pop"
    val topPaths = Seq("source_node_id", "target_node_id", "edge_type_id")
      .map(n => s"$base/$n").filter(f.datasets.contains)
    val propPaths = f.datasets.keys
      .filter(p => p.startsWith(s"$base/0/") && !p.startsWith(s"$base/0/@library/"))
    val colPaths = (topPaths ++ propPaths.toSeq.sorted).distinct
    require(colPaths.nonEmpty, s"sonatah5: population $pop has no edge columns")
    val n = f.datasets(colPaths.head).dims.head
    val cols = colPaths.map { p =>
      val ds = f.datasets(p)
      require(ds.dims == Seq(n), s"sonatah5: ragged edge column $p (${ds.dims} vs $n)")
      // contiguous columns positional-read one region; chunked columns
      // carry their chunk placement index from the metadata parse and
      // read per-chunk segments — same bytes, same meter invariant
      if (ds.chunked)
        require(ds.chunkIndex.exists(_.addrs.nonEmpty) || ds.dims.head == 0,
          s"sonatah5: chunked dataset $p has no chunk index (metadata parse hole)")
      ColMeta(p.split('/').last, ds.dtype, ds.dataAddress,
        if (ds.chunked) ds.chunkIndex else None)
    }
    Layout(pop, n, cols)
  }

  /** Row-index interval union implied by a filter on `edge_id` —
    * [[GidIntervals]]' algebra keyed on this source's row-identity
    * column instead of the touch gid.
    */
  def edgeIdIntervalsOf(f: sources.Filter): Option[Seq[(Long, Long)]] = {
    import GidIntervals.{normalize, intersect, num}
    f match {
      case sources.EqualTo("edge_id", v) => num(v).map(x => Seq((x, x)))
      case sources.In("edge_id", vs) =>
        val xs = vs.toSeq.map(num)
        if (xs.forall(_.isDefined)) Some(normalize(xs.flatten.map(x => (x, x)))) else None
      case sources.GreaterThan("edge_id", v) =>
        num(v).map(x => if (x == Long.MaxValue) Seq.empty else Seq((x + 1, Long.MaxValue)))
      case sources.GreaterThanOrEqual("edge_id", v) => num(v).map(x => Seq((x, Long.MaxValue)))
      case sources.LessThan("edge_id", v) =>
        num(v).map(x => if (x == Long.MinValue) Seq.empty else Seq((Long.MinValue, x - 1)))
      case sources.LessThanOrEqual("edge_id", v) => num(v).map(x => Seq((Long.MinValue, x)))
      case sources.And(l, r) =>
        for { a <- edgeIdIntervalsOf(l); b <- edgeIdIntervalsOf(r) }
          yield intersect(normalize(a), normalize(b))
      case sources.Or(l, r) =>
        for { a <- edgeIdIntervalsOf(l); b <- edgeIdIntervalsOf(r) }
          yield normalize(a ++ b)
      case _ => None
    }
  }

  /** Closed `edge_id` intervals → the half-open row ranges of an
    * `nRows`-row container they select (all rows for `None`).
    */
  def rowRanges(nRows: Long, intervals: Option[Seq[(Long, Long)]]): Seq[(Long, Long)] =
    intervals
      .map(_.map { case (lo, hi) =>
        (math.max(lo, 0L), math.min(if (hi == Long.MaxValue) nRows else hi + 1, nRows))
      }.filter { case (s, e) => e > s })
      .getOrElse(if (nRows > 0) Seq((0L, nRows)) else Nil)
}

private[sources] class Hdf5Table(path: String,
    private[sources] val layout: Hdf5DataSource.Layout,
    maxBytesPerPartition: Long) extends Table with SupportsRead {
  override def name(): String = s"sonatah5:$path#${layout.population}"
  override def schema(): StructType = layout.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Hdf5ScanBuilder(path, layout, maxBytesPerPartition)
}

private[sources] class Hdf5ScanBuilder(path: String,
    layout: Hdf5DataSource.Layout, maxBytesPerPartition: Long)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var required: StructType = layout.schema
  private var accepted: Array[sources.Filter] = Array.empty
  private var rowIntervals: Option[Seq[(Long, Long)]] = None
  private var countsPushed = 0
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(layout.schema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  /** `edge_id` is the row position, so the planned row ranges are the
    * predicate: only the other filters are returned as residuals.
    */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    import GidIntervals.{normalize, intersect}
    val (edgeId, rest) = filters.partition(f => Hdf5DataSource.edgeIdIntervalsOf(f).isDefined)
    accepted = edgeId
    rowIntervals = accepted.foldLeft(Option.empty[Seq[(Long, Long)]]) { (acc, f) =>
      val iv = normalize(Hdf5DataSource.edgeIdIntervalsOf(f).get)
      Some(acc.fold(iv)(intersect(_, iv)))
    }
    rest
  }

  override def pushedFilters(): Array[sources.Filter] = accepted

  /** Row count from the header's dataspace dims, or the width of the
    * pruned row ranges — zero data bytes.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def countable(e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
        : Boolean = e match {
      case _: CountStar => true
      case c: Count => !c.isDistinct && (c.column match {
        case r: NamedReference =>
          r.fieldNames.length == 1 && layout.schema.fieldNames.contains(r.fieldNames.head)
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

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    if (countsPushed > 0) new Hdf5CountScan(path,
      Hdf5DataSource.rowRanges(layout.nRows, rowIntervals).map { case (s, e) => e - s }.sum,
      countsPushed)
    else new Hdf5Scan(path, layout, required, maxBytesPerPartition, rowIntervals, limit)
}

/** Metadata-only COUNT: one single-row partition carrying the row count
  * of the (pruned) row ranges.
  */
private[sources] class Hdf5CountScan(path: String,
    nRows: Long, nCounts: Int) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType((1 to nCounts).map(i => StructField(s"count_$i", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"sonatah5-count $path rows=$nRows PushedAggregates: count (metadata-only)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(TouchCountSplit(nRows))
  override def createReaderFactory(): PartitionReaderFactory =
    new TouchCountReaderFactory(nCounts)
}

/** One row range of the container; carries the pruned column layout. */
private[sources] case class Hdf5Split(
    path: String, startRow: Long, numRows: Long,
    cols: Seq[Hdf5DataSource.ColMeta], emitEdgeId: Boolean,
    edgeIdFirst: Boolean) extends InputPartition

private[sources] class Hdf5Scan(path: String, layout: Hdf5DataSource.Layout,
    required: StructType, maxBytesPerPartition: Long,
    rowIntervals: Option[Seq[(Long, Long)]], limit: Option[Int])
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"sonatah5 $path#${layout.population} rows=${layout.nRows} " +
      s"cols=[${required.fieldNames.mkString(",")}]" +
      rowIntervals.fold("")(iv =>
        s" PushedEdgeIdRanges: ${iv.map { case (a, b) => s"[$a,$b]" }.mkString("∪")}") +
      limit.fold("")(l => s" PushedLimit: $l")

  private def prunedRanges: Seq[(Long, Long)] =
    Hdf5DataSource.rowRanges(layout.nRows, rowIntervals)

  override def estimateStatistics(): Statistics = {
    val rowBytes = math.max(1L,
      layout.cols.filter(c => required.fieldNames.contains(c.name))
        .map(_.dtype.size.toLong).sum + (if (required.fieldNames.contains("edge_id")) 8 else 0))
    val planned = math.min(
      prunedRanges.map { case (s, e) => e - s }.sum,
      limit.map(_.toLong).getOrElse(Long.MaxValue))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(planned * rowBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(planned)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val wantEdgeId = required.fieldNames.contains("edge_id")
    val cols = layout.cols.filter(c => required.fieldNames.contains(c.name))
    val rowBytes = math.max(1L, cols.map(_.dtype.size.toLong).sum + (if (wantEdgeId) 8 else 0))
    val perSplit = math.max(1L, maxBytesPerPartition / rowBytes)
    val edgeIdFirst = wantEdgeId && required.fieldNames.headOption.contains("edge_id")
    val splits = prunedRanges.flatMap { case (lo, hi) =>
      (lo until hi by perSplit).map { start =>
        val n = math.min(perSplit, hi - start)
        // each split ships only the chunk-index slice covering its rows
        val splitCols = cols.map(c =>
          c.copy(chunk = c.chunk.map(_.slice(start, n))))
        Hdf5Split(path, start, n, splitCols, wantEdgeId, edgeIdFirst)
      }
    }
    limit match {
      case None => splits.toArray
      case Some(l) =>
        var remaining = l.toLong
        splits.iterator.takeWhile(_ => remaining > 0).map { s =>
          val take = math.min(s.numRows, remaining)
          remaining -= take
          s.copy(numRows = take): InputPartition
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new Hdf5ReaderFactory
}

private[sources] class Hdf5ReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[Hdf5Split]
    new PartitionReader[InternalRow] {
      // ~4 MiB of the WIDEST column per chunk keeps memory bounded for
      // arbitrarily large splits
      private val rowsPerChunk = {
        val widest = math.max(1, split.cols.map(_.dtype.size).maxOption.getOrElse(1))
        math.max(1L, (4L << 20) / widest)
      }
      private var chunkStart = 0L   // rows emitted before this chunk
      private var buffers: Seq[(Hdf5Mini.H5Type, java.nio.ByteBuffer)] = Nil
      private var chunkRows = 0
      private var chunkIdx = 0
      private var emitted = 0L
      private var current: InternalRow = _
      private val nFields = split.cols.length + (if (split.emitEdgeId) 1 else 0)

      override def next(): Boolean = {
        if (emitted >= split.numRows) return false
        if (buffers.isEmpty || chunkIdx >= chunkRows) {
          chunkStart = split.startRow + emitted
          chunkRows = math.min(rowsPerChunk, split.numRows - emitted).toInt
          buffers = split.cols.map { c =>
            (c.dtype, c.chunk match {
              case Some(ix) => Hdf5Mini.readChunkedSlice(split.path, ix,
                c.dtype.size, chunkStart, chunkRows)
              case None => Hdf5Mini.readSlice(split.path, c.address,
                c.dtype.size, chunkStart, chunkRows)
            })
          }
          chunkIdx = 0
        }
        val i = chunkIdx
        val row = new GenericInternalRow(nFields)
        var out = 0
        if (split.emitEdgeId && split.edgeIdFirst) { row.update(out, chunkStart + i); out += 1 }
        buffers.foreach { case (t, bb) =>
          val v: Any = t match {
            case Hdf5Mini.I64 | Hdf5Mini.U64 => bb.getLong(i * 8)
            case Hdf5Mini.I32 => bb.getInt(i * 4)
            case Hdf5Mini.I16 => bb.getShort(i * 2)
            case Hdf5Mini.I8  => bb.get(i)
            case Hdf5Mini.U32 => bb.getInt(i * 4) & 0xFFFFFFFFL
            case Hdf5Mini.U16 => (bb.getShort(i * 2) & 0xFFFF).toLong
            case Hdf5Mini.U8  => (bb.get(i) & 0xFF).toLong
            case Hdf5Mini.F64 => bb.getDouble(i * 8)
            case Hdf5Mini.F32 => bb.getFloat(i * 4)
            case t => throw new IllegalStateException(s"sonatah5: unsupported column type $t")
          }
          row.update(out, v); out += 1
        }
        if (split.emitEdgeId && !split.edgeIdFirst) row.update(out, chunkStart + i)
        chunkIdx += 1; emitted += 1
        current = row
        true
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
