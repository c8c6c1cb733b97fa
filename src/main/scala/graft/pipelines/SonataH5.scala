package graft.pipelines

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import graft.{Q, Tables}
import graft.io.Hdf5Mini
import graft.io.Hdf5Mini.{DataRegion, DatasetSpec, GroupSpec}
import graft.ops.{Offsets, RangeRle}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pipeline B (S3 → P6 → O5 → I1-I7 → S5): Parquet edge directory → a
  * SONATA edge file in an HDF5 container, written by the repo's own
  * minimal pure-JVM codec ([[graft.io.Hdf5Mini]]) — the reference's
  * `parquet2hdf5` (src/parquet2hdf5.cpp:171-251; layout
  * src/circuit/sonata_file.cpp:26-79 — `/edges/<pop>/` group tree,
  * top-level node-id datasets, `0/` property group, `@library`
  * dictionaries; src/index/index.cpp:302-324 — `indices/{source_to_target,
  * target_to_source}/{node_id_to_ranges,range_to_edge_id}` 2-D uint64).
  *
  * The distributed dataflow is the reference's MPI collectives as Spark
  * jobs: one `Offsets.globalPosition` total order (gather the
  * per-partition counts, scan on the driver, scatter the bases — the
  * exclusive prefix sum, O5), a broadcast enum encode, and one fused
  * `RangeRle.numbered` two-direction RLE + numbering. Container I/O (the
  * HDF5 calls) is kept apart from that computation. Sink mechanics at
  * scale:
  *
  *  1. driver writes the file's METADATA only (a few KB: superblock,
  *     groups, dataset headers) once the RLE's boundary summaries have
  *     given its sizes — edge count, node count per side, range count
  *     per direction — without a job of their own;
  *  2. every dataset is contiguous and fixed-size, so each EXECUTOR
  *     partition `pwrite`s its disjoint slice at
  *     `address + position·elemSize` — the exact MPI-IO
  *     independent-transfer model the reference uses
  *     (sonata_file.cpp:100-106, H5FD_MPIO_INDEPENDENT). On a cluster
  *     this requires the shared POSIX filesystem the reference's MPI-IO
  *     requires too; values are buffered per partition and flushed as
  *     contiguous runs (one syscall per run per dataset, not per row).
  *     One pass writes the edge columns, one pass over the numbered
  *     ranges all four index datasets: a primary row's `a` word comes
  *     from the node's first range, its `b` word from its last — disjoint
  *     slots, no join; edge-less ids keep the region's zero fill;
  *  3. only the `@library` dictionaries (enum-small by definition) pass
  *     through the driver.
  *
  * The file is written as a sibling `<out>.inprogress-<uuid>` and moved
  * onto `<out>` only once every write has succeeded, so a failed convert
  * leaves no partial container and keeps an earlier one.
  */
object SonataH5 {

  /** Columns dropped before writing: the touch synapse id and a pandas index. */
  val SkipColumns: Seq[String] = Seq("synapse_id", "__index_level_0__")
  private val TopLevel = Set("source_node_id", "target_node_id", "edge_type_id")

  private def h5TypeOf(dt: DataType): Hdf5Mini.H5Type = dt match {
    case LongType    => Hdf5Mini.I64
    case IntegerType => Hdf5Mini.I32
    case ShortType   => Hdf5Mini.I16
    case ByteType    => Hdf5Mini.I8
    case DoubleType  => Hdf5Mini.F64
    case FloatType   => Hdf5Mini.F32
    case other => sys.error(s"sonata-h5: column type $other has no SONATA dataset " +
      "mapping (string columns must be enum-encoded via enumCols)")
  }

  /** Encode one value of a (name-matched) column as little-endian bytes. */
  private def putValue(bb: ByteBuffer, t: Hdf5Mini.H5Type,
                       row: Row, i: Int, name: String): Unit = {
    require(!row.isNullAt(i), s"sonata-h5: null in column $name (SONATA datasets are total)")
    t match {
      case Hdf5Mini.I64 => bb.putLong(row.getLong(i))
      case Hdf5Mini.I32 => bb.putInt(row.getInt(i))
      case Hdf5Mini.I16 => bb.putShort(row.getShort(i))
      case Hdf5Mini.I8  => bb.put(row.getByte(i))
      case Hdf5Mini.F64 => bb.putDouble(row.getDouble(i))
      case Hdf5Mini.F32 => bb.putFloat(row.getFloat(i))
      case other        => sys.error(s"sonata-h5: unexpected write type $other")
    }
  }

  /** Per-partition flush cap: a run buffer never grows past this, so
    * executor memory is O(#datasets · cap) regardless of partition size
    * (the first cut buffered whole partitions of Row objects and OOM'd
    * at the 100× probe — 1.9M rows per partition × 32 tasks).
    */
  private val RunFlushBytes = 4 << 20

  /** One dataset's positional writes over an open channel: values put at
    * consecutive element offsets accumulate into one run, written out on
    * a gap or at [[RunFlushBytes]] — one write per dataset per partition
    * in the common sorted-contiguous case, bounded memory, correct for
    * ANY order (an out-of-order value just starts a new run).
    */
  private final class Runs(ch: FileChannel, region: DataRegion) {
    /** The next value's bytes; [[put]] appends them to the run. */
    val value: ByteBuffer = ByteBuffer.allocate(region.dtype.size).order(ByteOrder.LITTLE_ENDIAN)
    private val run = new java.io.ByteArrayOutputStream(64 << 10)
    private var start = -1L
    private var next = -1L

    def put(elem: Long): Unit = {
      if (elem != next || run.size >= RunFlushBytes) { flush(); start = elem }
      run.write(value.array(), 0, value.position())
      value.clear()
      next = elem + 1
    }

    def putLong(elem: Long, v: Long): Unit = { value.putLong(v); put(elem) }

    def flush(): Unit = if (run.size > 0) {
      Hdf5Mini.fill(ch, region, start, run.toByteArray)
      run.reset()
    }
  }

  /** One partition's [[Runs]] over `regions` of `path`, flushed at the end. */
  private def withRuns(path: String, regions: Seq[DataRegion])(body: IndexedSeq[Runs] => Unit): Unit = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.WRITE)
    try {
      val runs = regions.map(new Runs(ch, _)).toIndexedSeq
      body(runs)
      runs.foreach(_.flush())
    } finally ch.close()
  }

  /** Convert an edge DataFrame to a SONATA HDF5 file at `outFile`.
    * Rows are ordered by (source, target, `tiebreak`...) and `edge_id`
    * is the row position in that order; `tiebreak` must complete a
    * total order for the output to be deterministic. `enumCols` are
    * dictionary-encoded into integer codes plus an `@library/<col>`
    * values dataset (sonata_writer.cpp:102-111); [[SkipColumns]] are
    * dropped. `population` names the `/edges/<population>/` group.
    * Returns the ordered, enum-coded edge frame and a no-op release
    * thunk (nothing is cached).
    */
  def convert(spark: SparkSession, edges: DataFrame,
              sourceCol: String, targetCol: String,
              outFile: String, population: String,
              tiebreak: Seq[String] = Seq.empty,
              enumCols: Seq[String] = Seq.empty,
              sourcePopulation: String = "", targetPopulation: String = "")
      : (DataFrame, () => Unit) = {
    require(!enumCols.contains(sourceCol) && !enumCols.contains(targetCol),
      "node-id columns cannot be dictionary-encoded")
    val ordered = Offsets.globalPosition(edges.drop(SkipColumns: _*),
      (Seq(sourceCol, targetCol) ++ tiebreak).map(col), "edge_id")
    val (encoded, libraries) = enumCols.foldLeft(
      (ordered, Seq.empty[(String, Seq[String])])) { case ((df, acc), c) =>
        val (coded, lib) = graft.ops.EnumLibrary.encode(df, c, c)
        // dictionary is enum-small by definition — driver-side by design
        val values = lib.orderBy("code").collect().map(_.getString(1)).toSeq
        (coded, acc :+ (c, values))
    }

    // both directions' CSR ranges, RLE'd + numbered per direction in one
    // range shuffle: each edge explodes into a (dir, node, pos) pair per
    // direction (src/index/index.cpp:114-153/272-280). The source
    // direction's runs are maximal because the edges are source-sorted.
    // Its boundary summaries carry every size the metadata needs.
    val numbered = RangeRle.numbered(
      ordered.select(
        explode(array(
          struct(lit(0).as("dir"), col(sourceCol).cast("long").as("node_id")),
          struct(lit(1).as("dir"), col(targetCol).cast("long").as("node_id")))).as("k"),
        col("edge_id").as("pos"))
        .select(col("k.dir").as("dir"), col("k.node_id").as("node_id"), col("pos")))
    val Seq(sources, targets) = numbered.dirs
    // a negative node id would become a negative primary-index offset —
    // Hdf5Mini.fill rejects those too, but fail here with the semantic
    // error, before any file exists
    val minNode = math.min(sources.minNode, targets.minNode)
    require(minNode >= 0, s"sonata-h5: negative node id $minNode (SONATA ids are unsigned)")

    // ------------------------------------------------ file layout (driver)
    val dataCols = encoded.schema.fields.filter(_.name != "edge_id")
    val popAttrs =
      Seq("parquet2hdf5_version" -> "graft-0.12") ++
        (if (sourcePopulation.nonEmpty) Seq("source_population_name" -> sourcePopulation) else Nil) ++
        (if (targetPopulation.nonEmpty) Seq("target_population_name" -> targetPopulation) else Nil)
    def colSpec(f: StructField): DatasetSpec = {
      val attrs = f.name match {
        case "source_node_id" if sourcePopulation.nonEmpty =>
          Seq("node_population" -> sourcePopulation)
        case "target_node_id" if targetPopulation.nonEmpty =>
          Seq("node_population" -> targetPopulation)
        case _ => Nil
      }
      DatasetSpec(f.name, h5TypeOf(f.dataType), Seq(sources.rows), attrs)
    }
    val (topFields, propFields) = dataCols.partition(f => TopLevel(f.name))
    val libraryGroup =
      if (libraries.isEmpty) Nil
      else Seq(GroupSpec("@library", datasets = libraries.map { case (c, values) =>
        val width = math.max(values.map(_.getBytes("UTF-8").length).maxOption.getOrElse(1), 1)
        DatasetSpec(c, Hdf5Mini.FixedStr(width), Seq(values.length.toLong))
      }))
    val dirNames = Seq("source_to_target", "target_to_source")
    val indexDirs = dirNames.zip(numbered.dirs).map { case (name, d) =>
      GroupSpec(name, datasets = Seq(
        DatasetSpec("node_id_to_ranges", Hdf5Mini.U64, Seq(d.maxNode + 1, 2L)),
        DatasetSpec("range_to_edge_id", Hdf5Mini.U64, Seq(d.ranges, 2L))))
    }
    val tree = GroupSpec("", groups = Seq(GroupSpec("edges", groups = Seq(
      GroupSpec(population,
        groups = Seq(
          GroupSpec("0", datasets = propFields.map(colSpec).toSeq, groups = libraryGroup),
          GroupSpec("indices", groups = indexDirs)),
        datasets = topFields.map(colSpec).toSeq,
        attrs = popAttrs)))))

    val target = Paths.get(outFile).toAbsolutePath
    val staging = target.resolveSibling(s"${target.getFileName}.inprogress-${UUID.randomUUID}")
    val path = staging.toString
    try {
      val regions = Hdf5Mini.write(path, tree)

      // ------------------------------------------- edge columns (executors)
      val colPlan: Seq[(String, Hdf5Mini.H5Type, DataRegion)] = dataCols.toSeq.map { f =>
        val base = if (TopLevel(f.name)) s"/edges/$population" else s"/edges/$population/0"
        (f.name, h5TypeOf(f.dataType), regions(s"$base/${f.name}"))
      }
      val edgeCols = col("edge_id") +: dataCols.map(f => col(f.name)).toSeq
      encoded.select(edgeCols: _*).foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) withRuns(path, colPlan.map(_._3)) { runs =>
          it.foreach { r =>
            val edge = r.getLong(0)
            for (ci <- runs.indices) {
              putValue(runs(ci).value, colPlan(ci)._2, r, ci + 1, colPlan(ci)._1)
              runs(ci).put(edge)
            }
          }
        }
      }

      // ------------------------------------------------- indices (executors)
      // per direction d: runs(2d) = range_to_edge_id, runs(2d + 1) =
      // node_id_to_ranges, both [n][2] uint64 written word by word
      val indexRegions = dirNames.flatMap(d => Seq("range_to_edge_id", "node_id_to_ranges")
        .map(ds => regions(s"/edges/$population/indices/$d/$ds")))
      numbered.ranges.foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) withRuns(path, indexRegions) { runs =>
          it.foreach { r =>
            val (dir, node, rangePos) = (r.getInt(0), r.getLong(1), r.getLong(4))
            val (secondary, primary) = (runs(2 * dir), runs(2 * dir + 1))
            secondary.putLong(2 * rangePos, r.getLong(2))
            secondary.putLong(2 * rangePos + 1, r.getLong(3))
            if (r.getBoolean(5)) primary.putLong(2 * node, rangePos)
            if (r.getBoolean(6)) primary.putLong(2 * node + 1, rangePos + 1)
          }
        }
      }

      // ------------------------------------------- @library values (driver)
      libraries.foreach { case (c, values) =>
        val region = regions(s"/edges/$population/0/@library/$c")
        val w = region.dtype.size
        val bytes = new Array[Byte](values.length * w)
        values.zipWithIndex.foreach { case (v, i) =>
          val b = v.getBytes("UTF-8")
          System.arraycopy(b, 0, bytes, i * w, b.length)
        }
        Hdf5Mini.fill(path, region, 0L, bytes)
      }
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(staging)
    (encoded, () => ())
  }

  /** Distributed read of a 2-D `[n][2]` uint64 dataset (the CSR index
    * shape) → (row_id, a, b). Each `spark.range` partition
    * positional-reads its disjoint row slice (the MPI-IO read analogue,
    * reference src/index/index.cpp:157-180's hyperslab selects); the
    * driver parses only the metadata prefix ([[Hdf5Mini.readMeta]]).
    */
  def readPairs(spark: SparkSession, file: String, datasetPath: String,
                partitions: Int = 32): DataFrame = {
    val ds = Hdf5Mini.readMeta(file).datasets(datasetPath)
    require(ds.dims.length == 2 && ds.dims(1) == 2L,
      s"sonata-h5: $datasetPath is not an [n][2] index dataset (${ds.dims})")
    require(!ds.chunked, s"sonata-h5: chunked dataset $datasetPath unsupported by " +
      "the distributed slice reader (contiguous subset; use Hdf5Mini.read)")
    val addr = ds.dataAddress
    val schema = StructType(Seq(
      StructField("row_id", LongType, nullable = false),
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false)))
    val rowRdd = spark.range(0, ds.dims.head, 1, partitions).rdd.mapPartitions { ids =>
      val idArr = ids.toArray
      if (idArr.isEmpty) Iterator.empty
      else {
        val lo = idArr.head
        val bb = Hdf5Mini.readSlice(file, addr, 16, lo, idArr.length)
        idArr.indices.iterator.map { i =>
          Row(lo + i, bb.getLong(i * 16), bb.getLong(i * 16 + 8))
        }
      }
    }
    spark.createDataFrame(rowRdd, schema)
  }

  val queries: Map[String, Q] = Map(
    // lineitem as the edge table (orderkey → suppkey edges) through the
    // container: convert to an HDF5 file, then read the file's bytes back
    // through the `sonatah5` source and emit the edge table — the oracle
    // match proves the write→read round trip, including the enum column
    // (codes = sorted-value ranks, a dense rank over the values in the
    // oracle). The tiebreak completes the total order: without it, rows
    // sharing (source, target) could swap positions and their payload
    // columns would disagree with the oracle.
    "edges_to_sonata_h5" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("sonatah5") + "/edges.h5"
      val edges = Tables.lineitem(s, dir).select(
        col("l_orderkey").as("source_node_id"),
        col("l_suppkey").as("target_node_id"),
        col("l_linenumber").as("edge_type_id"),
        col("l_quantity").as("my_attribute"),
        col("l_returnflag").as("my_label"))
      convert(s, edges, "source_node_id", "target_node_id",
        out, "lineitem_edges",
        tiebreak = Seq("edge_type_id", "my_attribute", "my_label"),
        enumCols = Seq("my_label"))
      s.read.format("sonatah5").option("population", "lineitem_edges").load(out)
        .select(col("source_node_id"), col("target_node_id"),
          col("edge_type_id").cast("int").as("edge_type_id"),
          col("my_attribute"), col("my_label"), col("edge_id"))
    }),

    // The container's OTHER half: both directions' CSR index datasets
    // read back from the physical file and checked against the
    // gaps-and-islands reconstruction — the libsonata traversal
    // surface (node → ranges → edge ids, index.cpp:302-324) is inside
    // the correctness gate, not just the edge columns.
    "sonata_h5_indices" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("sonatah5idx") + "/edges.h5"
      val edges = Tables.lineitem(s, dir).select(
        col("l_orderkey").as("source_node_id"),
        col("l_suppkey").as("target_node_id"),
        col("l_linenumber").as("edge_type_id"),
        col("l_quantity").as("my_attribute"),
        col("l_returnflag").as("my_label"))
      convert(s, edges, "source_node_id", "target_node_id",
        out, "lineitem_edges",
        tiebreak = Seq("edge_type_id", "my_attribute", "my_label"),
        enumCols = Seq("my_label"))
      val base = "/edges/lineitem_edges/indices"
      Seq(("source_to_target", 0), ("target_to_source", 1)).map { case (d, tag) =>
        readPairs(s, out, s"$base/$d/node_id_to_ranges")
          .select(lit(tag).as("dir"), lit("primary").as("kind"),
            col("row_id").as("k"), col("a"), col("b"))
          .unionAll(readPairs(s, out, s"$base/$d/range_to_edge_id")
            .select(lit(tag).as("dir"), lit("secondary").as("kind"),
              col("row_id").as("k"), col("a"), col("b")))
      }.reduce(_ unionAll _)
    }),

    // The WIDE property table (round 13): 66 property datasets +
    // `@library` = 67 members in the `0/` group — past the old
    // single-SNOD 64-member cap, so the multi-SNOD B-tree writer is
    // inside the DuckDB gate, not just the fuzz suite. ~1/16 of
    // lineitem (l_partkey % 16) keeps the face board-priced while the
    // column count, not the row count, is what this query stresses.
    "sonata_h5_wide" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("sonatah5wide") + "/edges.h5"
      val base = Tables.lineitem(s, dir)
        .where(col("l_partkey") % 16 === 0)
        .select(col("l_orderkey").as("source_node_id"),
          col("l_suppkey").as("target_node_id"),
          col("l_linenumber").as("edge_type_id"),
          round(col("l_quantity") * 100).cast("long").as("q_cents"),
          col("l_returnflag").as("my_label"))
      val props = (0 until WideProps).map(i =>
        ((col("q_cents") * (i + 3)) % 9973).cast("int").as(f"c$i%02d"))
      val edges = base.select(
        Seq(col("source_node_id"), col("target_node_id"), col("edge_type_id"),
          col("q_cents"), col("my_label")) ++ props: _*)
      convert(s, edges, "source_node_id", "target_node_id",
        out, "wide_edges",
        tiebreak = Seq("edge_type_id", "q_cents", "my_label"),
        enumCols = Seq("my_label"))
      val cols = Seq(col("source_node_id"), col("target_node_id"),
        col("edge_type_id").cast("int").as("edge_type_id"),
        col("q_cents"), col("my_label")) ++
        (0 until WideProps).map(i => col(f"c$i%02d")) :+ col("edge_id")
      s.read.format("sonatah5").option("population", "wide_edges").load(out)
        .select(cols: _*)
    }),

    // The read-only face of edges_to_sonata_h5: the same bytes, from
    // the container shared by the v2 faces, so the time is the
    // connector's full-table scan without the conversion.
    "sonata_h5_v2_source" -> ((s, dir) =>
      s.read.format("sonatah5").option("population", "lineitem_edges")
        .load(v2Container(s, dir))
        .select(col("source_node_id"), col("target_node_id"),
          col("edge_type_id").cast("int").as("edge_type_id"),
          col("my_attribute"), col("my_label"), col("edge_id"))),

    // The PRUNED face: 2-column projection + edge_id range — the scan
    // positional-reads only those two columns' slices of only that row
    // range (true columnar pruning: every SONATA column is its own
    // contiguous region, so pruning skips bytes on disk, not just
    // decode). Pushdown is asserted structurally in Hdf5SourceSpec;
    // this face pins the RESULTS under pruning to the oracle.
    "sonata_h5_v2_pruned" -> ((s, dir) =>
      s.read.format("sonatah5").option("population", "lineitem_edges")
        .load(v2Container(s, dir))
        .where(col("edge_id") >= 1000L && col("edge_id") < 5000L)
        .select(col("source_node_id"), col("my_attribute"), col("edge_id"))),

    // Foreign CHUNKED container through the planned source (round 14
    // continuation-2): every column of the committed
    // foreign_chunked_multi.h5 fixture is chunked with a DIFFERENT
    // chunk size (128/100/250, two edge chunks) and mixed dtypes —
    // planned splits ship per-split chunk-index slices and executors
    // read exact in-chunk byte ranges. Values are closed forms of the
    // row index (h5forge.py), so the DuckDB oracle reproduces the
    // decode from range() without reading HDF5 — a fully ORACLED
    // foreign-container read. Tiny maxBytesPerPartition forces
    // multiple splits so the sliced-index path IS the gated path.
    "sonata_h5_chunked_v2" -> ((s, _) =>
      s.read.format("sonatah5").option("maxBytesPerPartition", "2048")
        .load("/root/repo/src/test/resources/foreign_chunked_multi.h5")),

    // pruning + edge_id pushdown over the chunked fixture: the planned
    // range lands mid-chunk on both ends of all three chunk grids
    "sonata_h5_chunked_pruned" -> ((s, _) =>
      s.read.format("sonatah5").option("maxBytesPerPartition", "2048")
        .load("/root/repo/src/test/resources/foreign_chunked_multi.h5")
        .where(col("edge_id").between(123L, 456L))
        .select(col("edge_id"), col("delay_ms"))),

    // "New style" container through the planned source (round 14
    // continuation-2): foreign_v2tree.h5 carries a superblock v2 and
    // VERSION-2 object headers with compact hard links — the format
    // libhdf5 emits under H5F_LIBVER_LATEST — with every checksum
    // verified on the walk. Values are a closed form of the row index,
    // so this is the second fully ORACLED foreign-container read.
    "sonata_h5_v2sb_source" -> ((s, _) =>
      s.read.format("sonatah5")
        .load("/root/repo/src/test/resources/foreign_v2tree.h5")),

    // The READ-PATH measurement face (round 14): a full-width integer
    // checksum aggregate through the planned source. The full-table and
    // pruned faces end in the harness's count(), which the connector
    // pushes down to a METADATA-ONLY count (zero data bytes — the 100×
    // probe measured 0.05 s at 60M rows, proving the pushdown but
    // timing nothing) — this face's sums cannot push down, so every
    // projected byte streams through readSlice. Float column folded as
    // round(×100) per row (exact: quantities carry 2 decimals), so the
    // single-row result is integer-exact in both engines at any
    // parallelism.
    "sonata_h5_v2_scan_agg" -> ((s, dir) =>
      s.read.format("sonatah5").option("population", "lineitem_edges")
        .load(v2Container(s, dir))
        .agg(sum(col("source_node_id")).as("s_src"),
          sum(col("target_node_id")).as("s_tgt"),
          sum(col("edge_type_id")).as("s_type"),
          sum(round(col("my_attribute") * 100).cast("long")).as("s_attr_cents"),
          sum(col("my_label")).as("s_label"),
          sum(col("edge_id")).as("s_edge"),
          count(lit(1)).as("n")))
  )

  /** Shared container for the V2-source faces: built once per testdata
    * dir (deterministic bytes — same build as `edges_to_sonata_h5`),
    * so the two faces don't pay the conversion twice per board run.
    */
  private val v2Containers = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def v2Container(s: SparkSession, dir: String): String =
    v2Containers.computeIfAbsent(dir, _ => {
      val out = graft.io.TempDirs.create("sonatah5v2") + "/edges.h5"
      val edges = Tables.lineitem(s, dir).select(
        col("l_orderkey").as("source_node_id"),
        col("l_suppkey").as("target_node_id"),
        col("l_linenumber").as("edge_type_id"),
        col("l_quantity").as("my_attribute"),
        col("l_returnflag").as("my_label"))
      convert(s, edges, "source_node_id", "target_node_id",
        out, "lineitem_edges",
        tiebreak = Seq("edge_type_id", "my_attribute", "my_label"),
        enumCols = Seq("my_label"))
      out
    })

  /** Derived property-column count for `sonata_h5_wide`: 64 cNN + q_cents
    * + my_label = 66 datasets (+ `@library`) in the `0/` group.
    */
  private val WideProps = 64

  val oracleSql: Map[String, String] = Map(
    "edges_to_sonata_h5" ->
      """SELECT l_orderkey AS source_node_id, l_suppkey AS target_node_id,
        |  l_linenumber AS edge_type_id, l_quantity AS my_attribute,
        |  CAST(DENSE_RANK() OVER (ORDER BY l_returnflag) - 1 AS INTEGER) AS my_label,
        |  ROW_NUMBER() OVER (ORDER BY l_orderkey, l_suppkey, l_linenumber, l_quantity, l_returnflag) - 1 AS edge_id
        |FROM lineitem""".stripMargin,

    // gaps-and-islands over the totally-ordered edge list, per
    // direction: range_pos rebases to 0 within each direction (the
    // per-direction datasets are 0-indexed), edge positions stay global
    "sonata_h5_indices" ->
      """WITH e AS (
        |  SELECT l_orderkey AS src, l_suppkey AS tgt,
        |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_suppkey, l_linenumber, l_quantity, l_returnflag) - 1 AS pos
        |  FROM lineitem),
        |pairs AS (
        |  SELECT 0 AS dir, src AS node_id, pos FROM e
        |  UNION ALL
        |  SELECT 1 AS dir, tgt AS node_id, pos FROM e),
        |runs AS (
        |  SELECT dir, node_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY dir, node_id ORDER BY pos) AS grp
        |  FROM pairs),
        |ranges AS (
        |  SELECT dir, node_id, min(pos) AS range_start, max(pos) + 1 AS range_end
        |  FROM runs GROUP BY dir, node_id, grp),
        |numbered AS (
        |  SELECT dir, node_id, range_start, range_end,
        |    ROW_NUMBER() OVER (PARTITION BY dir ORDER BY node_id, range_start) - 1 AS range_pos
        |  FROM ranges),
        |prim AS (
        |  SELECT dir, node_id, count(*) AS cnt, min(range_pos) AS first_range
        |  FROM numbered GROUP BY dir, node_id),
        |bounds AS (
        |  SELECT 0 AS dir, unnest(generate_series(0, (SELECT max(l_orderkey) FROM lineitem))) AS node_id
        |  UNION ALL
        |  SELECT 1 AS dir, unnest(generate_series(0, (SELECT max(l_suppkey) FROM lineitem))) AS node_id)
        |SELECT CAST(bo.dir AS INTEGER) AS dir, 'primary' AS kind,
        |  CAST(bo.node_id AS BIGINT) AS k,
        |  CAST(COALESCE(p.first_range, 0) AS BIGINT) AS a,
        |  CAST(COALESCE(p.first_range + p.cnt, 0) AS BIGINT) AS b
        |FROM bounds bo LEFT JOIN prim p ON bo.dir = p.dir AND bo.node_id = p.node_id
        |UNION ALL
        |SELECT CAST(dir AS INTEGER) AS dir, 'secondary' AS kind,
        |  CAST(range_pos AS BIGINT) AS k,
        |  CAST(range_start AS BIGINT) AS a,
        |  CAST(range_end AS BIGINT) AS b
        |FROM numbered""".stripMargin,

    "sonata_h5_wide" -> {
      val cCols = (0 until WideProps).map(i =>
        "  CAST((CAST(round(l_quantity * 100) AS BIGINT) * %d) %% 9973 AS INTEGER) AS c%02d"
          .format(i + 3, i))
        .mkString(",\n")
      s"""SELECT l_orderkey AS source_node_id, l_suppkey AS target_node_id,
         |  l_linenumber AS edge_type_id,
         |  CAST(round(l_quantity * 100) AS BIGINT) AS q_cents,
         |  CAST(DENSE_RANK() OVER (ORDER BY l_returnflag) - 1 AS INTEGER) AS my_label,
         |$cCols,
         |  ROW_NUMBER() OVER (ORDER BY l_orderkey, l_suppkey, l_linenumber,
         |    round(l_quantity * 100), l_returnflag) - 1 AS edge_id
         |FROM lineitem WHERE l_partkey % 16 = 0""".stripMargin
    },

    // identical semantics to edges_to_sonata_h5: the shared container
    // read back as a full table
    "sonata_h5_v2_source" ->
      """SELECT l_orderkey AS source_node_id, l_suppkey AS target_node_id,
        |  l_linenumber AS edge_type_id, l_quantity AS my_attribute,
        |  CAST(DENSE_RANK() OVER (ORDER BY l_returnflag) - 1 AS INTEGER) AS my_label,
        |  ROW_NUMBER() OVER (ORDER BY l_orderkey, l_suppkey, l_linenumber, l_quantity, l_returnflag) - 1 AS edge_id
        |FROM lineitem""".stripMargin,

    "sonata_h5_v2_pruned" ->
      """WITH e AS (
        |  SELECT l_orderkey AS source_node_id, l_quantity AS my_attribute,
        |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_suppkey, l_linenumber, l_quantity, l_returnflag) - 1 AS edge_id
        |  FROM lineitem)
        |SELECT source_node_id, my_attribute, edge_id
        |FROM e WHERE edge_id >= 1000 AND edge_id < 5000""".stripMargin,

    // the fixture's closed-form content — the oracle never opens HDF5
    "sonata_h5_chunked_v2" ->
      """SELECT CAST(i AS BIGINT) AS edge_id,
        |  CAST((11 * i) % 1000 AS INTEGER) AS delay_ms,
        |  CAST((7 * i) % 50 AS BIGINT) AS source_node_id,
        |  CAST((3 * i) % 40 AS BIGINT) AS target_node_id
        |FROM range(0, 600) t(i)""".stripMargin,

    "sonata_h5_chunked_pruned" ->
      """SELECT CAST(i AS BIGINT) AS edge_id,
        |  CAST((11 * i) % 1000 AS INTEGER) AS delay_ms
        |FROM range(0, 600) t(i) WHERE i BETWEEN 123 AND 456""".stripMargin,

    "sonata_h5_v2sb_source" ->
      """SELECT CAST(i AS BIGINT) AS edge_id,
        |  CAST((5 * i + 1) % 97 AS BIGINT) AS source_node_id
        |FROM range(0, 20) t(i)""".stripMargin,

    "sonata_h5_v2_scan_agg" ->
      """WITH e AS (
        |  SELECT l_orderkey AS source_node_id, l_suppkey AS target_node_id,
        |    l_linenumber AS edge_type_id, l_quantity AS my_attribute,
        |    CAST(DENSE_RANK() OVER (ORDER BY l_returnflag) - 1 AS INTEGER) AS my_label,
        |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_suppkey, l_linenumber, l_quantity, l_returnflag) - 1 AS edge_id
        |  FROM lineitem)
        |SELECT CAST(sum(source_node_id) AS BIGINT) AS s_src,
        |  CAST(sum(target_node_id) AS BIGINT) AS s_tgt,
        |  CAST(sum(edge_type_id) AS BIGINT) AS s_type,
        |  CAST(sum(CAST(round(my_attribute * 100) AS BIGINT)) AS BIGINT) AS s_attr_cents,
        |  CAST(sum(my_label) AS BIGINT) AS s_label,
        |  CAST(sum(edge_id) AS BIGINT) AS s_edge,
        |  count(*) AS n
        |FROM e""".stripMargin
  )
}
