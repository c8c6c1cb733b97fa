package graft.io

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal pure-JVM HDF5 container codec — just enough of the public HDF5
  * File Format Specification (version 0 superblock, "classic" symbol-table
  * groups, version-1 object headers, contiguous datasets, version-1
  * attribute messages) to emit and re-read the SONATA edge container the
  * reference produces through libhdf5
  * (reference: src/circuit/sonata_file.cpp:26-79 — group tree + contiguous
  * fixed-dims datasets; src/circuit/sonata_writer.cpp:72-148 — per-column
  * datasets, `@library` string dictionaries, string attributes;
  * src/index/index.cpp:184-191 — 2-D uint64 index datasets).
  *
  * Same design stance as [[MediaCodec]] (the round-11 precedent): a
  * CONTAINER codec is byte-offset bookkeeping, not relational algebra — it
  * belongs in plain `java.nio` on whichever side holds the bytes, with the
  * distributed plan unchanged around it. Scope is deliberately the SONATA
  * subset, strictly parsed and strictly written:
  *
  *   - superblock version 0, offsets/lengths 8 bytes, base address 0;
  *   - groups in the classic format: object header + v1 B-tree (level 0)
  *     + symbol-table nodes + local heap — members split across up to
  *     2·K_internal = 32 SNODs of ≤ 2·K_leaf = 64 symbols each (round 13
  *     lifted the single-SNOD cap), so a group holds up to 2048 members
  *     (a 65+-column property table is not exotic at the north star;
  *     exceeded → loud error, never silent drop);
  *   - datasets: contiguous layout only (the reference's own choice for
  *     SONATA — sonata_file.cpp:96-101 creates simple dataspaces with no
  *     chunking), fixed dims, little-endian int8..64/uint8..64/float/double
  *     and null-padded fixed-size ASCII strings (the `@library` encoding);
  *   - attributes: version-1 messages, scalar fixed-size strings — the only
  *     kind the reference writes (sonata_file.cpp:68-76).
  *
  * The READER additionally accepts 1-D CHUNKED datasets without filters
  * (round 14, the foreign-feature notch: libhdf5 writers commonly chunk
  * even when the reference's own SONATA output does not) — the v1
  * node-type-1 chunk B-tree is walked (any level) and the chunks
  * reassembled in element order; a nonzero filter mask, rank ≥ 2
  * chunking, or a chunked dataset reached through the PLANNED V2 source
  * (whose positional readers require one contiguous region per column)
  * still fails fast with a named error. Anything else (filtered data,
  * fractal-heap "new style" groups, variable-length types, v2+ object
  * headers, >2048 members) is out of scope and fails fast on both sides.
  *
  * Scale: `write` emits ONLY metadata (a few KB) and returns each dataset's
  * `(address, byte span)`; the data regions are then filled by positional
  * writes — executors can `pwrite` disjoint slices of a shared-filesystem
  * file in parallel, exactly the reference's MPI-IO independent-transfer
  * model (sonata_file.cpp:100-106), with no driver materialization.
  */
object Hdf5Mini {

  // ---------------------------------------------------------------- types

  /** Supported on-disk element types (all little-endian). */
  sealed trait H5Type { def size: Int }
  case object I8  extends H5Type { val size = 1 }
  case object I16 extends H5Type { val size = 2 }
  case object I32 extends H5Type { val size = 4 }
  case object I64 extends H5Type { val size = 8 }
  case object U8  extends H5Type { val size = 1 }
  case object U16 extends H5Type { val size = 2 }
  case object U32 extends H5Type { val size = 4 }
  case object U64 extends H5Type { val size = 8 }
  case object F32 extends H5Type { val size = 4 }
  case object F64 extends H5Type { val size = 8 }
  /** Null-padded fixed-size ASCII string of `n` bytes. */
  final case class FixedStr(n: Int) extends H5Type { def size: Int = n }

  final case class DatasetSpec(name: String, dtype: H5Type, dims: Seq[Long],
                               attrs: Seq[(String, String)] = Nil)
  final case class GroupSpec(name: String,
                             groups: Seq[GroupSpec] = Nil,
                             datasets: Seq[DatasetSpec] = Nil,
                             attrs: Seq[(String, String)] = Nil)

  /** Where a dataset's raw data lives in the written file. */
  final case class DataRegion(address: Long, byteSize: Long, dtype: H5Type,
                              dims: Seq[Long])

  private val Undef = -1L // 0xFFFF...FF — the spec's undefined address
  private val GroupLeafK = 32     // 2K = 64 symbols per SNOD (one per group)
  private val GroupInternalK = 16 // 2K = 32 children per B-tree node
  private val SuperblockSize = 96
  private val GroupOhBase = 40    // 16 prefix + (8 + 16) symbol-table msg
  private val BtreeSize = 24 + (2 * GroupInternalK + 1) * 8 + 2 * GroupInternalK * 8
  private val SnodSize = 8 + 2 * GroupLeafK * 40
  private val HeapHeaderSize = 32

  private def pad8(n: Int): Int = (n + 7) & ~7
  private def pad8L(n: Long): Long = (n + 7L) & ~7L

  // ------------------------------------------------------------ datatype

  /** Datatype message body (class+version, 24-bit flags, size, props). */
  private def datatypeBody(t: H5Type): Array[Byte] = {
    val bb = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    t match {
      case I8 | I16 | I32 | I64 | U8 | U16 | U32 | U64 =>
        val signed = t match { case I8 | I16 | I32 | I64 => true; case _ => false }
        bb.put(0x10.toByte)                       // version 1, class 0 fixed-point
        bb.put((if (signed) 0x08 else 0x00).toByte) // bit0 LE=0, bit3 sign
        bb.put(0.toByte).put(0.toByte)
        bb.putInt(t.size)
        bb.putShort(0)                            // bit offset
        bb.putShort((t.size * 8).toShort)         // precision
      case F32 =>
        bb.put(0x11.toByte)                       // version 1, class 1 float
        bb.put(0x20.toByte)                       // LE, mantissa norm = 2 (implied msb)
        bb.put(31.toByte)                         // sign bit location
        bb.put(0.toByte)
        bb.putInt(4)
        bb.putShort(0); bb.putShort(32)
        bb.put(23.toByte)                         // exponent location
        bb.put(8.toByte)                          // exponent size
        bb.put(0.toByte)                          // mantissa location
        bb.put(23.toByte)                         // mantissa size
        bb.putInt(127)                            // exponent bias
      case F64 =>
        bb.put(0x11.toByte)
        bb.put(0x20.toByte)
        bb.put(63.toByte)
        bb.put(0.toByte)
        bb.putInt(8)
        bb.putShort(0); bb.putShort(64)
        bb.put(52.toByte)
        bb.put(11.toByte)
        bb.put(0.toByte)
        bb.put(52.toByte)
        bb.putInt(1023)
      case FixedStr(n) =>
        bb.put(0x13.toByte)                       // version 1, class 3 string
        bb.put(0x00.toByte)                       // null-terminate pad, ASCII
        bb.put(0.toByte).put(0.toByte)
        bb.putInt(n)
    }
    val raw = java.util.Arrays.copyOf(bb.array(), bb.position())
    java.util.Arrays.copyOf(raw, pad8(raw.length))
  }

  private def parseDatatype(bb: ByteBuffer): H5Type = {
    val classVer = bb.get() & 0xFF
    val b0 = bb.get() & 0xFF; bb.get(); bb.get()
    val size = bb.getInt()
    (classVer & 0x0F) match {
      case 0 =>
        bb.getShort(); bb.getShort()
        val signed = (b0 & 0x08) != 0
        (size, signed) match {
          case (1, true) => I8;  case (2, true) => I16
          case (4, true) => I32; case (8, true) => I64
          case (1, false) => U8;  case (2, false) => U16
          case (4, false) => U32; case (8, false) => U64
          case other => sys.error(s"hdf5: unsupported fixed-point width $other")
        }
      case 1 =>
        if (size == 4) F32 else if (size == 8) F64
        else sys.error(s"hdf5: unsupported float width $size")
      case 3 => FixedStr(size)
      case c => sys.error(s"hdf5: unsupported datatype class $c (only fixed/float/string)")
    }
  }

  // ------------------------------------------------------------ messages

  private def msg(msgType: Int, body: Array[Byte]): Array[Byte] = {
    require(body.length % 8 == 0, "message body must be 8-aligned")
    val bb = ByteBuffer.allocate(8 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.putShort(msgType.toShort)
    bb.putShort(body.length.toShort)
    bb.put(0.toByte); bb.put(0.toByte).put(0.toByte).put(0.toByte)
    bb.put(body)
    bb.array()
  }

  private def dataspaceBody(dims: Seq[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + dims.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte)                 // version 1
    bb.put(dims.length.toByte)       // rank (0 = scalar)
    bb.put(0.toByte)                 // flags: no maxdims
    bb.put(0.toByte); bb.putInt(0)   // reserved
    dims.foreach(bb.putLong)
    bb.array()
  }

  private def fillValueBody: Array[Byte] =
    // version 2, alloc time EARLY(1), fill time IFSET(2), undefined(0) + pad
    Array[Byte](2, 1, 2, 0, 0, 0, 0, 0)

  private def layoutBody(addr: Long, byteSize: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(3.toByte)                 // layout message version 3
    bb.put(1.toByte)                 // class 1: contiguous
    bb.putLong(addr)
    bb.putLong(byteSize)
    bb.array()
  }

  private def symbolTableBody(btreeAddr: Long, heapAddr: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(btreeAddr); bb.putLong(heapAddr)
    bb.array()
  }

  /** Version-1 attribute message: scalar fixed-size ASCII string. */
  private def attributeBody(name: String, value: String): Array[Byte] = {
    val nameBytes = name.getBytes(StandardCharsets.US_ASCII) :+ 0.toByte
    val valueBytes = value.getBytes(StandardCharsets.US_ASCII)
    val dt = datatypeBody(FixedStr(math.max(valueBytes.length, 1)))
    val ds = dataspaceBody(Nil)
    val bb = ByteBuffer.allocate(
      8 + pad8(nameBytes.length) + dt.length + ds.length +
        pad8(math.max(valueBytes.length, 1))).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.put(0.toByte)             // version 1, reserved
    bb.putShort(nameBytes.length.toShort)          // name size (unpadded)
    bb.putShort(8.toShort)                         // datatype size (unpadded)
    bb.putShort(8.toShort)                         // dataspace size (unpadded)
    bb.put(java.util.Arrays.copyOf(nameBytes, pad8(nameBytes.length)))
    bb.put(dt)
    bb.put(ds)
    bb.put(java.util.Arrays.copyOf(valueBytes, pad8(math.max(valueBytes.length, 1))))
    bb.array()
  }

  private def objectHeader(messages: Seq[Array[Byte]]): Array[Byte] = {
    val total = messages.map(_.length).sum
    val bb = ByteBuffer.allocate(16 + total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.put(0.toByte)             // version 1, reserved
    bb.putShort(messages.length.toShort)
    bb.putInt(1)                                   // hard-link reference count
    bb.putInt(total)                               // header data size
    bb.putInt(0)                                   // 4-byte pad → 8-aligned msgs
    messages.foreach(bb.put)
    bb.array()
  }

  // -------------------------------------------------------------- writer

  private final case class GroupLayout(spec: GroupSpec, ohAddr: Long,
                                       btreeAddr: Long, heapAddr: Long,
                                       heapDataAddr: Long, heapData: Array[Byte],
                                       snodAddrs: Seq[Long],
                                       chunks: Seq[Seq[String]],
                                       nameOffsets: Map[String, Long])

  /** Split a group's name-sorted members into SNOD chunks: one chunk up
    * to 2·K_leaf names (the single-leaf case may be arbitrarily small —
    * spec II.A); beyond that, even split into ⌈n/2K⌉ chunks, which keeps
    * every chunk within [K_leaf, 2·K_leaf] as the B-tree invariant
    * requires (⌊n/⌈n/2K⌉⌋ ≥ K for all n > 2K).
    */
  private def snodChunks(members: Seq[String]): Seq[Seq[String]] = {
    if (members.size <= 2 * GroupLeafK) Seq(members)
    else {
      val n = members.size
      val k = (n + 2 * GroupLeafK - 1) / (2 * GroupLeafK)
      val base = n / k
      val extra = n % k   // first `extra` chunks get one more
      val out = Seq.newBuilder[Seq[String]]
      var i = 0
      (0 until k).foreach { c =>
        val sz = base + (if (c < extra) 1 else 0)
        out += members.slice(i, i + sz)
        i += sz
      }
      out.result()
    }
  }

  /** Write the container's metadata for the given tree and RESERVE the
    * contiguous data regions; returns each dataset's region keyed by its
    * absolute path (`/edges/pop/0/col`). The file is sized to EOF up
    * front; data regions read as zeros until filled via [[fill]] /
    * positional writes.
    */
  def write(path: String, root: GroupSpec): Map[String, DataRegion] = {
    var cursor: Long = SuperblockSize
    val groupLayouts = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], GroupLayout)]
    val dsAddrs = scala.collection.mutable.LinkedHashMap.empty[Seq[String], (DatasetSpec, Long)]

    // pass 1: assign metadata addresses (DFS, children name-sorted)
    def layoutGroup(spec: GroupSpec, pathSegs: Seq[String]): Unit = {
      val members = (spec.groups.map(_.name) ++ spec.datasets.map(_.name)).sorted
      require(members.size == members.distinct.size,
        s"hdf5: duplicate member names in group /${pathSegs.mkString("/")}")
      // one level-0 TREE node holds up to 2·K_internal SNOD children of
      // up to 2·K_leaf symbols each; deeper trees are out of scope
      require(members.size <= 2 * GroupInternalK * 2 * GroupLeafK,
        s"hdf5: group /${pathSegs.mkString("/")} has ${members.size} members " +
          s"(this writer caps a group at ${2 * GroupInternalK * 2 * GroupLeafK})")
      val chunks = snodChunks(members)
      val heapBytes = scala.collection.mutable.ArrayBuffer[Byte](0,0,0,0,0,0,0,0)
      val nameOffsets = members.map { m =>
        val off = heapBytes.length.toLong
        val b = m.getBytes(StandardCharsets.US_ASCII) :+ 0.toByte
        heapBytes ++= java.util.Arrays.copyOf(b, pad8(b.length))
        m -> off
      }.toMap
      val ohAddr = cursor
      val ohSize = GroupOhBase + spec.attrs.map(a => 8 + attributeBody(a._1, a._2).length).sum
      cursor += ohSize
      val btreeAddr = cursor; cursor += BtreeSize
      val heapAddr = cursor; cursor += HeapHeaderSize
      val heapDataAddr = cursor; cursor += heapBytes.length
      val snodAddrs = chunks.map { _ => val a = cursor; cursor += SnodSize; a }
      groupLayouts += pathSegs -> GroupLayout(spec, ohAddr, btreeAddr, heapAddr,
        heapDataAddr, heapBytes.toArray, snodAddrs, chunks, nameOffsets)
      spec.groups.sortBy(_.name).foreach(g => layoutGroup(g, pathSegs :+ g.name))
      spec.datasets.sortBy(_.name).foreach { d =>
        dsAddrs(pathSegs :+ d.name) = (d, cursor)
        val ohSize = 16 +
          (8 + dataspaceBody(d.dims).length) +
          (8 + datatypeBody(d.dtype).length) +
          (8 + fillValueBody.length) +
          (8 + 24) +
          d.attrs.map(a => 8 + attributeBody(a._1, a._2).length).sum
        cursor += ohSize
      }
    }
    layoutGroup(root, Nil)

    // pass 2: assign data regions after all metadata
    val regions = dsAddrs.map { case (segs, (d, _)) =>
      val addr = pad8L(cursor)
      val byteSize = d.dims.product * d.dtype.size
      cursor = addr + byteSize
      segs -> DataRegion(addr, byteSize, d.dtype, d.dims)
    }.toMap
    val eof = cursor

    // pass 3: serialize metadata
    val groupByPath = groupLayouts.toMap
    val metaEnd = regions.values.map(_.address).foldLeft(eof)(math.min)
    val meta = ByteBuffer.allocate(metaEnd.toInt).order(ByteOrder.LITTLE_ENDIAN)

    val rootL = groupByPath(Nil)
    meta.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n'))
    meta.put(0.toByte)                  // superblock version 0
    meta.put(0.toByte)                  // free-space version
    meta.put(0.toByte)                  // root symbol-table version
    meta.put(0.toByte)                  // reserved
    meta.put(0.toByte)                  // shared-header-message version
    meta.put(8.toByte)                  // size of offsets
    meta.put(8.toByte)                  // size of lengths
    meta.put(0.toByte)                  // reserved
    meta.putShort(GroupLeafK.toShort)
    meta.putShort(GroupInternalK.toShort)
    meta.putInt(0)                      // file consistency flags
    meta.putLong(0L)                    // base address
    meta.putLong(Undef)                 // free-space info
    meta.putLong(eof)                   // end-of-file address
    meta.putLong(Undef)                 // driver info block
    meta.putLong(0L)                    // root STE: link name offset
    meta.putLong(rootL.ohAddr)
    meta.putInt(1)                      // cache type 1: cached symbol table
    meta.putInt(0)
    meta.putLong(rootL.btreeAddr)       // scratch: B-tree + heap addresses
    meta.putLong(rootL.heapAddr)

    groupLayouts.foreach { case (segs, gl) =>
      // object header
      meta.position(gl.ohAddr.toInt)
      meta.put(objectHeader(
        msg(0x0011, symbolTableBody(gl.btreeAddr, gl.heapAddr)) +:
          gl.spec.attrs.map(a => msg(0x000C, attributeBody(a._1, a._2)))))
      // B-tree (level 0, one child per SNOD chunk; keys bracket the
      // chunks: key[0] = "" at heap offset 0, key[i>0] = last name of
      // chunk i-1 — the III.A.1 ordering invariant with strict sort)
      meta.position(gl.btreeAddr.toInt)
      meta.put("TREE".getBytes(StandardCharsets.US_ASCII))
      meta.put(0.toByte)                // node type 0: group
      meta.put(0.toByte)                // level 0
      meta.putShort(gl.chunks.size.toShort)
      meta.putLong(Undef); meta.putLong(Undef)
      meta.putLong(0L)                  // key[0]: empty string at heap offset 0
      gl.chunks.zip(gl.snodAddrs).foreach { case (chunk, snodAddr) =>
        meta.putLong(snodAddr)
        // key[i+1]: chunk's last name (empty group → single empty SNOD,
        // key stays the empty string)
        meta.putLong(chunk.lastOption.map(gl.nameOffsets).getOrElse(0L))
      }
      // local heap
      meta.position(gl.heapAddr.toInt)
      meta.put("HEAP".getBytes(StandardCharsets.US_ASCII))
      meta.put(0.toByte); meta.put(0.toByte).put(0.toByte).put(0.toByte)
      meta.putLong(gl.heapData.length.toLong)
      meta.putLong(1L)                  // free list: none
      meta.putLong(gl.heapDataAddr)
      meta.position(gl.heapDataAddr.toInt)
      meta.put(gl.heapData)
      // symbol-table nodes
      gl.chunks.zip(gl.snodAddrs).foreach { case (chunk, snodAddr) =>
        meta.position(snodAddr.toInt)
        meta.put("SNOD".getBytes(StandardCharsets.US_ASCII))
        meta.put(1.toByte); meta.put(0.toByte)
        meta.putShort(chunk.size.toShort)
        chunk.foreach { m =>
          val childAddr =
            if (gl.spec.groups.exists(_.name == m)) groupByPath(segs :+ m).ohAddr
            else dsAddrs(segs :+ m)._2
          meta.putLong(gl.nameOffsets(m))
          meta.putLong(childAddr)
          meta.putInt(0); meta.putInt(0)  // cache type 0
          meta.putLong(0L); meta.putLong(0L)
        }
      }
    }

    dsAddrs.foreach { case (segs, (d, ohAddr)) =>
      val r = regions(segs)
      meta.position(ohAddr.toInt)
      meta.put(objectHeader(
        Seq(msg(0x0001, dataspaceBody(d.dims)),
            msg(0x0003, datatypeBody(d.dtype)),
            msg(0x0005, fillValueBody),
            msg(0x0008, layoutBody(r.address, r.byteSize))) ++
          d.attrs.map(a => msg(0x000C, attributeBody(a._1, a._2)))))
    }

    val raf = new RandomAccessFile(path, "rw")
    try {
      raf.setLength(0)
      raf.write(meta.array())
      raf.setLength(eof)                // data regions read as zeros until filled
    } finally raf.close()
    regions.map { case (segs, r) => ("/" + segs.mkString("/")) -> r }
  }

  /** Positional write of `bytes` at `region.address + elemOffset·elemSize`
    * — the executor-side primitive (disjoint slices may be written
    * concurrently, the MPI-IO independent-transfer analogue).
    */
  def fill(path: String, region: DataRegion, elemOffset: Long, bytes: Array[Byte]): Unit = {
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(path),
      java.nio.file.StandardOpenOption.WRITE)
    try fill(ch, region, elemOffset, bytes)
    finally ch.close()
  }

  /** [[fill]] over an already-open channel — for writers flushing many
    * runs per partition (one open per partition, not per run).
    */
  def fill(ch: java.nio.channels.FileChannel, region: DataRegion,
           elemOffset: Long, bytes: Array[Byte]): Unit = {
    // a negative offset would compute a position BEFORE the data region and
    // silently clobber superblock/group metadata — fail loud instead
    require(elemOffset >= 0,
      s"hdf5: negative element offset $elemOffset")
    require(bytes.length % region.dtype.size == 0,
      s"hdf5: write of ${bytes.length} bytes is not a whole number of " +
        s"${region.dtype.size}-byte elements")
    require(elemOffset * region.dtype.size + bytes.length <= region.byteSize,
      s"hdf5: write past dataset end (offset $elemOffset, ${bytes.length} bytes, " +
        s"region ${region.byteSize})")
    val bb = ByteBuffer.wrap(bytes)
    var pos = region.address + elemOffset * region.dtype.size
    while (bb.hasRemaining) {
      val n = ch.write(bb, pos)
      pos += n
    }
  }

  // -------------------------------------------------------------- reader

  /** Chunk placement index for a 1-D chunked dataset: the element span
    * of each chunk and the (elemOffset → file address) map the planned
    * readers slice through. Parsed from the chunk B-tree at metadata
    * time (the nodes are metadata-sized — one entry per chunk), so a
    * positional reader can fetch EXACTLY the in-chunk byte range a row
    * span needs: chunked reads cost the same bytes as contiguous ones,
    * and the byte-meter invariant (bytes read = rows × width) holds
    * unchanged. Unfiltered chunks only (filter mask 0 is asserted at
    * walk time); every chunk is stored full-size per the spec, so the
    * address arithmetic needs no per-chunk length.
    */
  final case class ChunkIndex(chunkElems: Long, addrs: Map[Long, Long]) {
    /** File address of the chunk covering element `elem` — fail loud on
      * a hole (an unwritten chunk cannot appear in a dataset our subset
      * accepts: no fill-value reads, never a guess).
      */
    def addrOf(elem: Long, path: String): Long = {
      val base = (elem / chunkElems) * chunkElems
      addrs.getOrElse(base, sys.error(
        s"hdf5: $path has no chunk at element offset $base (hole?)"))
    }

    /** The index restricted to chunks covering [fromElem, fromElem +
      * count) — what a planned split ships to its executor, so split
      * metadata stays split-sized instead of dataset-sized.
      */
    def slice(fromElem: Long, count: Long): ChunkIndex = {
      val lo = (fromElem / chunkElems) * chunkElems
      val hi = fromElem + count
      ChunkIndex(chunkElems, addrs.filter { case (off, _) => off >= lo && off < hi })
    }
  }

  /** `chunked = true` marks a dataset stored under a chunk B-tree rather
    * than one contiguous region: `dataAddress` is the spec's undefined
    * address. Full [[read]] reassembles the bytes into
    * [[ReadFile.chunkedData]]; [[readMeta]] defers the data but carries
    * the [[ChunkIndex]], which is what lets the planned V2 source and
    * the distributed slice readers read chunked columns positionally
    * ([[readChunkedSlice]]).
    */
  final case class ReadDataset(path: String, dtype: H5Type, dims: Seq[Long],
                               dataAddress: Long, byteSize: Long,
                               attrs: Map[String, String],
                               chunked: Boolean = false,
                               chunkIndex: Option[ChunkIndex] = None)
  final case class ReadFile(datasets: Map[String, ReadDataset],
                            groupAttrs: Map[String, Map[String, String]],
                            bytes: Array[Byte],
                            chunkedData: Map[String, Array[Byte]] = Map.empty) {
    private def raw(ds: ReadDataset): (Array[Byte], Int) =
      if (ds.chunked)
        (chunkedData.getOrElse(ds.path, sys.error(
          s"hdf5: ${ds.path} is chunked and not materialized (metadata-only parse)")), 0)
      else (bytes, ds.dataAddress.toInt)
    private def data(ds: ReadDataset): ByteBuffer = {
      val (arr, off) = raw(ds)
      ByteBuffer.wrap(arr, off, ds.byteSize.toInt).order(ByteOrder.LITTLE_ENDIAN)
    }
    def longs(path: String): Array[Long] = {
      val ds = datasets(path)
      val n = ds.dims.product.toInt
      val out = new Array[Long](n)
      val bb = data(ds)
      ds.dtype match {
        case I64 | U64 => var i = 0; while (i < n) { out(i) = bb.getLong(); i += 1 }
        case I32 | U32 => var i = 0; while (i < n) { out(i) = bb.getInt().toLong; i += 1 }
        case I16 | U16 => var i = 0; while (i < n) { out(i) = bb.getShort().toLong; i += 1 }
        case I8 | U8   => var i = 0; while (i < n) { out(i) = bb.get().toLong; i += 1 }
        case t => sys.error(s"hdf5: $path is $t, not an integer dataset")
      }
      out
    }
    def doubles(path: String): Array[Double] = {
      val ds = datasets(path)
      val n = ds.dims.product.toInt
      val out = new Array[Double](n)
      val bb = data(ds)
      ds.dtype match {
        case F64 => var i = 0; while (i < n) { out(i) = bb.getDouble(); i += 1 }
        case F32 => var i = 0; while (i < n) { out(i) = bb.getFloat().toDouble; i += 1 }
        case t => sys.error(s"hdf5: $path is $t, not a float dataset")
      }
      out
    }
    def strings(path: String): Array[String] = {
      val ds = datasets(path)
      val w = ds.dtype match {
        case FixedStr(n) => n
        case t => sys.error(s"hdf5: $path is $t, not a string dataset")
      }
      val (arr, off) = raw(ds)
      (0 until ds.dims.product.toInt).map { i =>
        val cell = java.util.Arrays.copyOfRange(arr, off + i * w, off + (i + 1) * w)
        val end = cell.indexOf(0.toByte)
        new String(cell, 0, if (end < 0) w else end, StandardCharsets.US_ASCII)
      }.toArray
    }
  }

  /** Parse a file written by this codec (or any classic-format HDF5 file
    * within the subset above). Strict: unknown structure → error, never a
    * guess.
    */
  def read(path: String): ReadFile = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    try parse(bytes, materializeChunked = true)
    catch { case f: MetaFault => throw f.in(path, bytes.length) }
  }

  /** Metadata-only parse: reads just the file's metadata prefix (this
    * writer lays out every header before the first data byte), so the
    * driver can plan a DISTRIBUTED read without loading the data — the
    * [[ReadFile]] returned here must not be used for data access
    * (`longs`/`doubles`/`strings`); executors read the regions
    * themselves via [[readSlice]]. A container that is cut short or
    * corrupt fails naming its path and the byte where the structure
    * that could not be parsed starts.
    */
  def readMeta(path: String): ReadFile = {
    val fileLen = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    var prefix = math.min(fileLen, 1L << 16).toInt
    while (true) {
      val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(path),
        java.nio.file.StandardOpenOption.READ)
      val buf = try {
        val bb = ByteBuffer.allocate(prefix)
        // FileChannel.read may return short on shared/NFS filesystems —
        // loop until the prefix is filled or EOF
        while (bb.hasRemaining && ch.read(bb, bb.position().toLong) >= 0) {}
        bb.array()
      } finally ch.close()
      // chunked datasets are REGISTERED but never materialized here —
      // their data may lie anywhere in the file, far past the prefix
      try return parse(buf, materializeChunked = false)
      catch {
        // a header straddling the prefix boundary reads past its end
        case f: MetaFault if f.pastEnd && prefix < fileLen =>
          prefix = math.min(fileLen, prefix.toLong * 4).toInt
        case f: MetaFault => throw f.in(path, fileLen)
      }
    }
    sys.error("unreachable")
  }

  /** Data bytes fetched through [[readSlice]], keyed by file path — the
    * measured face of the V2 source's "column pruning skips bytes ON
    * DISK" claim. Per-JVM (per-executor on a cluster); local[32] shares
    * one JVM, so a test can snapshot [[dataBytesRead]] for its own
    * container, run a pruned scan, and assert the DELTA equals
    * planned_rows × pruned_row_width exactly (readSlice reads exactly
    * count·elemSize bytes per column chunk, never a byte of an
    * unprojected column). Path-keyed so concurrently running suites
    * reading OTHER containers can't pollute the measurement.
    * Diagnostic only — never read by query logic.
    */
  private val bytesByPath =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  def dataBytesRead(path: String): Long =
    Option(bytesByPath.get(path)).map(_.get).getOrElse(0L)

  /** Positional read of `count` elements starting at `elemOffset` — the
    * executor-side primitive mirroring [[fill]].
    */
  def readSlice(path: String, dataAddress: Long, elemSize: Int,
                elemOffset: Long, count: Int): ByteBuffer = {
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(path),
      java.nio.file.StandardOpenOption.READ)
    try {
      val bb = ByteBuffer.allocate(count * elemSize).order(ByteOrder.LITTLE_ENDIAN)
      val base = dataAddress + elemOffset * elemSize
      // short reads are legal (and routine on NFS) — loop until filled or EOF
      while (bb.hasRemaining && ch.read(bb, base + bb.position()) >= 0) {}
      require(!bb.hasRemaining,
        s"hdf5: EOF reading $count x $elemSize bytes at $base from $path")
      bytesByPath.computeIfAbsent(path,
        _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(count.toLong * elemSize)
      bb.flip()
      bb
    } finally ch.close()
  }

  /** Positional read of `count` elements starting at `elemOffset` from
    * a CHUNKED dataset — the chunked twin of [[readSlice]]: the span is
    * split at chunk boundaries and each segment reads exactly its
    * in-chunk byte range (chunks are stored full-size and unfiltered,
    * so element address = chunk address + within-chunk offset × size).
    * Bytes metered identically — a chunked pruned scan reads exactly
    * planned_rows × width, same as contiguous.
    */
  def readChunkedSlice(path: String, index: ChunkIndex, elemSize: Int,
                       elemOffset: Long, count: Int): ByteBuffer = {
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(path),
      java.nio.file.StandardOpenOption.READ)
    try {
      val bb = ByteBuffer.allocate(count * elemSize).order(ByteOrder.LITTLE_ENDIAN)
      val c = index.chunkElems
      var off = elemOffset
      val end = elemOffset + count
      while (off < end) {
        val within = off % c
        val take = math.min(end - off, c - within).toInt
        val base = index.addrOf(off, path) + within * elemSize
        val lim = bb.position() + take * elemSize
        val saved = bb.limit()
        bb.limit(lim)
        val segStart = bb.position()
        while (bb.hasRemaining && ch.read(bb, base + (bb.position() - segStart)) >= 0) {}
        require(!bb.hasRemaining,
          s"hdf5: EOF reading $take x $elemSize bytes at $base from $path")
        bb.limit(saved)
        off += take
      }
      bytesByPath.computeIfAbsent(path,
        _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(count.toLong * elemSize)
      bb.flip()
      bb
    } finally ch.close()
  }

  /** Jenkins lookup3 (hashlittle, public domain) over
    * `bytes[off, off+len)` with init 0 — the checksum the HDF5 "new
    * style" metadata carries (superblock v2/v3, OHDR v2 gateway). The
    * strict-reader contract VERIFIES it: corrupt new-style metadata
    * fails loud instead of being walked.
    */
  private[graft] def lookup3(bytes: Array[Byte], off: Int, len: Int): Int = {
    def rot(x: Int, k: Int): Int = Integer.rotateLeft(x, k)
    def word(i: Int, n: Int): Int = {
      var v = 0
      var j = n - 1
      while (j >= 0) {
        val idx = off + i + j
        v = (v << 8) | (if (idx < off + len) bytes(idx) & 0xFF else 0)
        j -= 1
      }
      v
    }
    var a = 0xDEADBEEF + len
    var b = a
    var c = a
    var i = 0
    while (len - i > 12) {
      a += word(i, 4); b += word(i + 4, 4); c += word(i + 8, 4)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      i += 12
    }
    if (len - i > 0) {
      a += word(i, 4); b += word(i + 4, 4); c += word(i + 8, 4)
      c ^= b; c -= rot(b, 14)
      a ^= c; a -= rot(c, 11)
      b ^= a; b -= rot(a, 25)
      c ^= b; c -= rot(b, 16)
      a ^= c; a -= rot(c, 4)
      b ^= a; b -= rot(a, 14)
      c ^= b; c -= rot(b, 24)
    }
    c
  }

  /** A metadata parse that failed in the structure starting at byte
    * `at`; `pastEnd` when it read past the end of the parsed bytes.
    */
  private final class MetaFault(val at: Long, cause: RuntimeException) extends RuntimeException(cause) {
    def pastEnd: Boolean = cause match {
      case _: IndexOutOfBoundsException | _: java.nio.BufferUnderflowException => true
      case _ => false
    }

    /** The fault as the error of the `length`-byte file `path`. */
    def in(path: String, length: Long): IllegalArgumentException = new IllegalArgumentException(
      if (pastEnd) s"hdf5: $path: truncated or corrupt metadata: the structure at byte $at " +
        s"reads past the end of the file ($length bytes)"
      else s"hdf5: $path: byte $at: " +
        String.valueOf(cause.getMessage).stripPrefix("requirement failed: ").stripPrefix("hdf5: "),
      cause)
  }

  /** Moves `b` to `pos`; a position past its end is a read past it. */
  private def seek(b: ByteBuffer, pos: Long): Unit =
    if (pos < 0 || pos > b.limit()) throw new java.nio.BufferUnderflowException
    else b.position(pos.toInt)

  /** Any fault of the parse is a [[MetaFault]] at the start of the
    * structure being read.
    */
  private def parse(bytes: Array[Byte], materializeChunked: Boolean): ReadFile = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var at = 0L
    def guarded[T](body: => T): T =
      try body catch { case e: RuntimeException => throw new MetaFault(at, e) }
    /** `read` of the structure at byte `addr`, from a view at `addr`.
      * A fault leaves `at` at the innermost structure, the one named.
      */
    def within[T](addr: Long)(read: ByteBuffer => T): T = {
      val outer = at
      at = addr
      val b = bb.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      seek(b, addr)
      val r = read(b)
      at = outer
      r
    }

    val sig = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n')
    guarded(require((0 until 8).forall(i => bytes(i) == sig(i)), "hdf5: bad signature"))
    // superblock v0 (the classic form this codec writes) or v2/v3 (what
    // libhdf5 emits under H5F_LIBVER_LATEST — spec II.A.2: a fixed
    // 48-byte block ending in a lookup3 checksum, root OH address
    // direct instead of a cached symbol-table entry)
    val rootOh = guarded((bytes(8): Int) match {
      case 0 =>
        require(bytes(13) == 8 && bytes(14) == 8, "hdf5: offsets/lengths must be 8 bytes")
        bb.getLong(64)   // root STE: name offset at 56, OH address at 64
      case 2 | 3 =>
        require(bytes(9) == 8 && bytes(10) == 8, "hdf5: offsets/lengths must be 8 bytes")
        val stored = bb.getInt(44)
        val computed = lookup3(bytes, 0, 44)
        require(stored == computed,
          f"hdf5: superblock v${bytes(8)} checksum mismatch (stored 0x$stored%08x, computed 0x$computed%08x)")
        bb.getLong(36)
      case v => sys.error(s"hdf5: superblock version $v (only 0, 2, 3)")
    })

    val datasets = scala.collection.mutable.LinkedHashMap.empty[String, ReadDataset]
    val groupAttrs = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, String]]
    val chunkedAux = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]

    /** Walk a v1 node-type-1 (raw data chunk) B-tree, any level, calling
      * `visit(elemOffset, chunkBytes, filterMask, chunkAddr)` per leaf
      * entry. Key layout per spec III.A.1: chunk size (4), filter mask
      * (4), then `dim` 8-byte offsets (the trailing one always 0).
      */
    def walkChunkBtree(addr: Long, dim: Int)(
        visit: (Long, Int, Int, Long) => Unit): Unit = within(addr) { t =>
      val ts = new Array[Byte](4); t.get(ts)
      require(new String(ts, StandardCharsets.US_ASCII) == "TREE", "hdf5: bad chunk btree")
      require(t.get() == 1, "hdf5: not a chunk btree")
      val level = t.get() & 0xFF
      val used = t.getShort() & 0xFFFF
      t.getLong(); t.getLong()
      (0 until used).foreach { _ =>
        val nbytes = t.getInt()
        val mask = t.getInt()
        val offs = (0 until dim).map(_ => t.getLong())
        val child = t.getLong()
        if (level > 0) walkChunkBtree(child, dim)(visit)
        else visit(offs.head, nbytes, mask, child)
      }
    }

    def readAttr(b: ByteBuffer): (String, String) = {
      val start = b.position()
      require(b.get() == 1, "hdf5: only v1 attribute messages")
      b.get()
      val nameSize = b.getShort() & 0xFFFF
      val dtSize = b.getShort() & 0xFFFF
      val dsSize = b.getShort() & 0xFFFF
      val nameBytes = new Array[Byte](nameSize); b.get(nameBytes)
      val name = new String(nameBytes, 0, nameSize - 1, StandardCharsets.US_ASCII)
      seek(b, start + 8 + pad8(nameSize))
      val dt = parseDatatype(b)
      seek(b, start + 8 + pad8(nameSize) + pad8(dtSize))
      seek(b, b.position() + pad8(dsSize))   // scalar dataspace, skip
      val w = dt match {
        case FixedStr(n) => n
        case t => sys.error(s"hdf5: attribute $name has type $t (only strings)")
      }
      val v = new Array[Byte](w); b.get(v)
      val end = v.indexOf(0.toByte)
      name -> new String(v, 0, if (end < 0) w else end, StandardCharsets.US_ASCII)
    }

    def readObject(ohAddr: Long, path: String): Unit = within(ohAddr) { b =>
      var stab: Option[(Long, Long)] = None
      var dims: Option[Seq[Long]] = None
      var dtype: Option[H5Type] = None
      // Left = contiguous (addr, byteSize); Right = chunked (btree addr,
      // chunk dims in elements, element size)
      var layout: Option[Either[(Long, Long), (Long, Seq[Long], Long)]] = None
      val attrs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      // "new style" (v2-header) group state: compact hard links + the
      // link-info marker (an empty v2 group carries link-info, no links)
      val links = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var linkInfoSeen = false

      // one message-body interpreter for both header versions — the
      // bodies are version-independent; only the framing differs
      def handleMessage(t: Int): Unit = t match {
        case 0x0011 => stab = Some((b.getLong(), b.getLong()))
        case 0x0001 =>
          require(b.get() == 1, "hdf5: only v1 dataspace messages")
          val rank = b.get() & 0xFF
          b.get(); b.get(); b.getInt()
          dims = Some((0 until rank).map(_ => b.getLong()))
        case 0x0003 => dtype = Some(parseDatatype(b))
        case 0x0008 =>
          require(b.get() == 3, "hdf5: only v3 layout messages")
          (b.get(): Int) match {
            case 1 => layout = Some(Left((b.getLong(), b.getLong())))
            case 2 =>
              // spec IV.A.2.l chunked: dimensionality = rank + 1, chunk
              // btree address, 4-byte chunk dims, element size last
              val d = b.get() & 0xFF
              val btreeAddr = b.getLong()
              val cdims = (0 until d - 1).map(_ => (b.getInt() & 0xFFFFFFFFL))
              val esize = b.getInt() & 0xFFFFFFFFL
              layout = Some(Right((btreeAddr, cdims, esize)))
            case other =>
              sys.error(s"hdf5: unsupported layout class $other at $path " +
                "(contiguous and 1-D chunked only)")
          }
        case 0x000C => attrs += readAttr(b)
        case 0x0002 =>
          // link info (spec IV.A.2.c): compact links live as 0x06
          // messages in THIS header; a defined fractal-heap address
          // means dense storage, which stays outside the subset
          require(b.get() == 0, "hdf5: only v0 link-info messages")
          val f = b.get() & 0xFF
          if ((f & 1) != 0) b.getLong()          // max creation order
          val fheap = b.getLong()
          b.getLong()                            // name-index B-tree addr
          if ((f & 2) != 0) b.getLong()          // creation-order index
          require(fheap == Undef,
            s"hdf5: dense link storage at $path unsupported (compact links only)")
          linkInfoSeen = true
        case 0x000A => ()                        // group info: sizing hints
        case 0x0006 =>
          // link message (spec IV.A.2.g), HARD links only — soft and
          // external links name targets this reader will not chase
          require(b.get() == 1, "hdf5: only v1 link messages")
          val lf = b.get() & 0xFF
          val ltype = if ((lf & 0x08) != 0) b.get() & 0xFF else 0
          require(ltype == 0,
            s"hdf5: non-hard link (type $ltype) at $path unsupported")
          if ((lf & 0x04) != 0) b.getLong()      // creation order
          if ((lf & 0x10) != 0) b.get()          // charset
          val nlen = (lf & 0x3) match {
            case 0 => (b.get() & 0xFF).toLong
            case 1 => (b.getShort() & 0xFFFF).toLong
            case 2 => b.getInt() & 0xFFFFFFFFL
            case _ => b.getLong()
          }
          val nb = new Array[Byte](nlen.toInt); b.get(nb)
          links += new String(nb, StandardCharsets.US_ASCII) -> b.getLong()
        case 0x0010 =>
          sys.error(s"hdf5: object header continuation at $path unsupported " +
            "(single-chunk headers only)")
        case 0x0005 | 0x0000 | 0x0012 => // fill value / NIL / mtime: skip
        case other => sys.error(f"hdf5: unsupported message type 0x$other%04X at $path")
      }

      val isV2 = bytes(ohAddr.toInt) == 'O' && bytes(ohAddr.toInt + 1) == 'H' &&
        bytes(ohAddr.toInt + 2) == 'D' && bytes(ohAddr.toInt + 3) == 'R'
      if (isV2) {
        // spec IV.A.2 version-2 header: OHDR, version, flags, optional
        // times/sizing, variable-width chunk-0 size, unaligned messages,
        // lookup3 gateway checksum — VERIFIED (fail loud on corruption)
        seek(b, ohAddr + 4)
        require(b.get() == 2, s"hdf5: OHDR at $ohAddr is not version 2")
        val f = b.get() & 0xFF
        if ((f & 0x20) != 0) { b.getInt(); b.getInt(); b.getInt(); b.getInt() }
        if ((f & 0x10) != 0) { b.getShort(); b.getShort() }
        val chunk0 = (f & 0x3) match {
          case 0 => (b.get() & 0xFF).toLong
          case 1 => (b.getShort() & 0xFFFF).toLong
          case 2 => b.getInt() & 0xFFFFFFFFL
          case _ => b.getLong()
        }
        val bodyEnd = b.position() + chunk0.toInt
        val stored = bb.getInt(bodyEnd)
        val computed = lookup3(bytes, ohAddr.toInt, bodyEnd - ohAddr.toInt)
        require(stored == computed,
          f"hdf5: OHDR checksum mismatch at $path (stored 0x$stored%08x, computed 0x$computed%08x)")
        while (b.position() < bodyEnd) {
          val t = b.get() & 0xFF
          val size = b.getShort() & 0xFFFF
          b.get()                                 // message flags
          if ((f & 0x04) != 0) b.getShort()       // creation order
          val mStart = b.position()
          handleMessage(t)
          seek(b, mStart + size)
        }
      } else {
        require(b.get() == 1, s"hdf5: object header at $ohAddr is not version 1")
        b.get()
        val nMsgs = b.getShort() & 0xFFFF
        b.getInt(); b.getInt(); b.getInt()        // refcount, size, pad
        (0 until nMsgs).foreach { _ =>
          val t = b.getShort() & 0xFFFF
          val size = b.getShort() & 0xFFFF
          b.get(); b.get(); b.get(); b.get()
          val bodyStart = b.position()
          handleMessage(t)
          seek(b, bodyStart + size)
        }
      }
      stab match {
        case Some((btreeAddr, heapAddr)) =>
          groupAttrs(if (path.isEmpty) "/" else path) = attrs.toMap
          // heap header → data address
          val heapData = within(heapAddr) { h =>
            val hs = new Array[Byte](4); h.get(hs)
            require(new String(hs, StandardCharsets.US_ASCII) == "HEAP", "hdf5: bad heap")
            h.getInt(); h.getLong(); h.getLong()
            h.getLong()
          }
          def name(off: Long): String = {
            var end = (heapData + off).toInt
            while (bytes(end) != 0) end += 1
            new String(bytes, (heapData + off).toInt, end - (heapData + off).toInt,
              StandardCharsets.US_ASCII)
          }
          def walkBtree(addr: Long): Unit = within(addr) { t =>
            val ts = new Array[Byte](4); t.get(ts)
            require(new String(ts, StandardCharsets.US_ASCII) == "TREE", "hdf5: bad btree")
            require(t.get() == 0, "hdf5: not a group btree")
            val level = t.get() & 0xFF
            val used = t.getShort() & 0xFFFF
            t.getLong(); t.getLong()
            // keys and children interleave: key0, child0, key1, child1, ...
            (0 until used).foreach { _ =>
              t.getLong()                          // key i
              val child = t.getLong()
              if (level > 0) walkBtree(child)
              else within(child) { s =>
                val ss = new Array[Byte](4); s.get(ss)
                require(new String(ss, StandardCharsets.US_ASCII) == "SNOD", "hdf5: bad SNOD")
                s.get(); s.get()
                val nSym = s.getShort() & 0xFFFF
                (0 until nSym).foreach { _ =>
                  val nameOff = s.getLong()
                  val childOh = s.getLong()
                  s.getInt(); s.getInt(); s.getLong(); s.getLong()
                  readObject(childOh, s"$path/${name(nameOff)}")
                }
              }
            }
          }
          walkBtree(btreeAddr)
        case None if linkInfoSeen || links.nonEmpty =>
          // "new style" group: children are the compact hard links,
          // walked name-sorted (link order in the header is
          // writer-chosen; the sort pins discovery determinism)
          groupAttrs(if (path.isEmpty) "/" else path) = attrs.toMap
          links.toSeq.sortBy(_._1).foreach { case (nm, addr) =>
            readObject(addr, s"$path/$nm")
          }
        case None =>
          val d = dims.getOrElse(sys.error(s"hdf5: dataset $path missing dataspace"))
          val t = dtype.getOrElse(sys.error(s"hdf5: dataset $path missing datatype"))
          layout.getOrElse(sys.error(s"hdf5: dataset $path missing layout")) match {
            case Left((addr, sz)) =>
              datasets(path) = ReadDataset(path, t, d, addr, sz, attrs.toMap)
            case Right((btreeAddr, cdims, esize)) =>
              require(d.length == 1 && cdims.length == 1,
                s"hdf5: only 1-D chunked datasets supported ($path is rank ${d.length})")
              require(esize == t.size,
                s"hdf5: chunk element size $esize != datatype size ${t.size} at $path")
              val total = d.head * t.size
              // ONE B-tree walk serves both paths: the chunk index (for
              // planned positional reads) and, under full read, the
              // reassembled bytes. Filter rejection happens here so the
              // metadata parse already refuses compressed chunks loud.
              val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
              if (total > 0)
                walkChunkBtree(btreeAddr, dim = 2) { (elemOff, nbytes, mask, chunkAddr) =>
                  require(mask == 0,
                    s"hdf5: filtered chunk at $path (filters unsupported)")
                  val byteOff = elemOff * t.size
                  require(byteOff >= 0 && byteOff < total,
                    s"hdf5: chunk offset $elemOff outside dataset $path")
                  entries += ((elemOff, nbytes, chunkAddr))
                }
              val index = ChunkIndex(cdims.head,
                entries.map(e => e._1 -> e._3).toMap)
              datasets(path) = ReadDataset(path, t, d, Undef, total, attrs.toMap,
                chunked = true, chunkIndex = Some(index))
              if (materializeChunked && total > 0) {
                val out = new Array[Byte](total.toInt)
                entries.foreach { case (elemOff, nbytes, chunkAddr) =>
                  val byteOff = elemOff * t.size
                  // edge chunks are stored full-size; copy only the part
                  // inside the dataspace extent
                  val copyLen = math.min(nbytes.toLong, total - byteOff)
                  System.arraycopy(bytes, chunkAddr.toInt, out, byteOff.toInt, copyLen.toInt)
                }
                chunkedAux(path) = out
              }
          }
      }
    }
    guarded(readObject(rootOh, ""))
    ReadFile(datasets.toMap, groupAttrs.toMap, bytes, chunkedAux.toMap)
  }
}
