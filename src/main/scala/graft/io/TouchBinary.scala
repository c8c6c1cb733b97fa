package graft.io

import java.nio.{ByteBuffer, ByteOrder}

import graft.model.TouchModel
import graft.model.TouchModel.Version
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** S2 `scan_touch_index`: driver-side decode of the TouchDetector
  * companion index (`touches.N`) that every touch data file needs — its
  * byte order, record version and per-neuron (shift, count) entries.
  * The records themselves are decoded by the `touchbin` connector
  * (`sources.TouchDataSource`), which carries this index in each split.
  *
  * Endianness: the index magic double 1.001 decides byte order
  * (touch_reader.cpp:14, 89). Unlike the reference — which swaps only the
  * first 10 words and silently corrupts big-endian v2/v3 floats
  * (touch_reader.cpp:261-273, SURVEY.md §1.5.5) — the connector decodes
  * every field through a `ByteBuffer` carrying the detected order, so
  * all versions are correct under either endianness.
  */
object TouchBinary {

  private val ArchitectureIdentifier = 1.001

  final case class TouchIndex(
      littleEndian: Boolean, // ByteOrder itself is not Serializable
      versionString: String,
      version: Version,
      firstGid: Int,
      shifts: Array[Long],
      /** Per-gid record counts (parallel to `shifts`), from the index's
        * (id, count, offset) entries — 0 for gids absent from the index.
        */
      counts: Array[Long] = Array.empty,
      /** True when the header declared more neurons than the file holds
        * (the short-read zero-pad case): the entries cannot be trusted
        * for record-range pruning, only for the shift lookup's defined
        * fallback.
        */
      truncated: Boolean = false) {
    /** First global row of `gid`'s contiguous block. For gids absent from
      * the index the reference indexes its shifts vector out of bounds
      * (undefined behavior, touch_reader.cpp:276 — the v1 fixture triggers
      * it); we define that case as shift 0.
      */
    def shiftOf(gid: Int): Long = {
      val pos = gid - firstGid
      if (pos >= 0 && pos < shifts.length) shifts(pos) else 0L
    }

    /** Record range [start, end) covering every indexed gid in
      * [lo, hi] — the Spark face of the reference's per-neuron
      * `seek(pos)` (touch_reader.cpp:196-228, offsets decoded at
      * :136-144). Bounds are min/max over PRESENT entries (count > 0),
      * so no monotonicity of offsets across gids is assumed; `None`
      * means "cannot prune" (truncated or empty index), `Some((0, 0))`
      * means provably no records. Like the reference's seek, pruning
      * trusts the index to describe the data file — the `touchbin`
      * reader checks every record's gid word against the pushed gid
      * intervals, so a lying index can only lose rows the reference
      * would also mis-seek, never emit wrong ones.
      */
    def recordRangeFor(lo: Long, hi: Long): Option[(Long, Long)] = {
      if (truncated || shifts.isEmpty || counts.length != shifts.length) return None
      var start = Long.MaxValue
      var end = 0L
      // clamp both bounds into the index's gid domain BEFORE subtracting
      // firstGid: lo is Long.MinValue for upper-bound-only predicates
      // (hi Long.MaxValue for lower-bound-only), where the raw
      // subtraction wraps and `.toInt` truncates to a bogus index
      val loC = math.min(math.max(lo, firstGid.toLong), firstGid.toLong + shifts.length)
      val hiC = math.min(math.max(hi, firstGid.toLong - 1), firstGid.toLong + shifts.length - 1)
      var pos = (loC - firstGid).toInt
      val maxPos = (hiC - firstGid).toInt
      while (pos <= maxPos) {
        if (counts(pos) > 0) {
          start = math.min(start, shifts(pos))
          end = math.max(end, shifts(pos) + counts(pos))
        }
        pos += 1
      }
      if (start == Long.MaxValue) Some((0L, 0L)) else Some((start, end))
    }

    /** Record ranges for a UNION of gid intervals — one range per
      * interval via [[recordRangeFor]], then sorted and merged so the
      * planner never emits overlapping splits (offsets need not be
      * monotone across gids, so two gid intervals CAN map to
      * overlapping record ranges; a duplicate split would duplicate
      * rows because the reader's gid check passes them twice). This is
      * the multi-neuron face of the reference's per-neuron `seek(pos)`
      * loop (touch_reader.cpp:196-228): scattered gids prune to their
      * own blocks instead of one [min,max] hull. `None` = cannot
      * prune; `Some(Nil)` = provably no records.
      */
    def recordRangesFor(intervals: Seq[(Long, Long)]): Option[Seq[(Long, Long)]] = {
      if (truncated || shifts.isEmpty || counts.length != shifts.length) return None
      val raw = intervals.flatMap { case (lo, hi) => recordRangeFor(lo, hi) }
        .filter { case (s, e) => e > s }
        .sortBy(_._1)
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      raw.foreach { case (s, e) =>
        if (merged.nonEmpty && s <= merged.last._2) {
          val (ps, pe) = merged.remove(merged.length - 1)
          merged += ((ps, math.max(pe, e)))
        } else merged += ((s, e))
      }
      Some(merged.toSeq)
    }
  }

  /** Index filename = data filename with the last "Data" removed
    * (touch_reader.cpp:80-84): `touchesData.0` → `touches.0`.
    */
  def indexFileFor(dataFile: String): String = {
    val idx = dataFile.lastIndexOf("Data")
    require(idx >= 0, s"Cannot determine index for file $dataFile")
    dataFile.substring(0, idx) + dataFile.substring(idx + 4)
  }

  /** The session's Hadoop conf when a session is active (propagates
    * `spark.hadoop.*` overrides), a default conf otherwise.
    */
  def hadoopConf(): Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Whole-file read through the Hadoop FileSystem API, so index
    * decoding works on any Hadoop-supported store, not just local
    * paths. Index files are 32 B + 16 B/neuron — always driver-sized.
    */
  private def readAllBytesFs(path: String, conf: Configuration): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"$path: implausibly large touch index ($len bytes)")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, bytes, 0, bytes.length) finally in.close()
    bytes
  }

  /** Driver-side decode of the companion index file (header: magic double,
    * neuron count, 16-byte version string; then per-neuron
    * (id:i32, count:u32, offset:i64) records). Replicates the reference's
    * short-read semantics — a header claiming more neurons than the file
    * holds yields zero records (the v1 fixture depends on this) — and its
    * duplicate-empty-entry skip rule (touch_reader.cpp:131-143).
    */
  def readIndex(indexPath: String, conf: Configuration = hadoopConf()): TouchIndex = {
    val bytes = readAllBytesFs(indexPath, conf)
    require(bytes.length >= 32,
      s"$indexPath: index header needs 32 bytes, file has ${bytes.length}")
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val order =
      if (le.getDouble(0) == ArchitectureIdentifier) ByteOrder.LITTLE_ENDIAN
      else {
        val be = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
        require(be.getDouble(0) == ArchitectureIdentifier,
          s"$indexPath: bad architecture identifier (not 1.001 in either byte order)")
        ByteOrder.BIG_ENDIAN
      }
    val buf = ByteBuffer.wrap(bytes).order(order)
    val nNeurons = buf.getLong(8)
    val vsBytes = new Array[Byte](16)
    buf.position(16); buf.get(vsBytes)
    val versionString = new String(vsBytes.takeWhile(_ != 0), "US-ASCII")
    val version = TouchModel.sniffVersion(versionString)

    // short read → missing trailing records are all-zero (C++ reads into a
    // zero-backed vector and ignores the stream failure)
    val avail = math.max(0L, (bytes.length - 32L) / 16L)
    val n = math.min(nNeurons, avail).toInt
    val zeroPad = nNeurons > avail
    case class Rec(id: Int, count: Long, offset: Long)
    val recs = (0 until n).map { i =>
      val base = 32 + i * 16
      Rec(buf.getInt(base), buf.getInt(base + 4).toLong & 0xffffffffL, buf.getLong(base + 8))
    } ++ (if (zeroPad) Seq(Rec(0, 0L, 0L)) else Seq.empty)

    if (recs.isEmpty) // header may legitimately declare zero neurons
      return TouchIndex(order == ByteOrder.LITTLE_ENDIAN, versionString, version, 0, Array.empty)
    val firstGid = recs.map(_.id).min
    val maxGid = recs.map(_.id).max
    val shifts = new Array[Long](maxGid - firstGid + 1)
    val counts = new Array[Long](maxGid - firstGid + 1)
    recs.foreach { r =>
      val pos = r.id - firstGid
      if (shifts(pos) > 0 && r.offset == 0 && r.count == 0) {
        // duplicate empty entry — keep the real one (touch_reader.cpp:136-139)
      } else {
        shifts(pos) = r.offset / version.recordSize
        counts(pos) = r.count
      }
    }
    TouchIndex(order == ByteOrder.LITTLE_ENDIAN, versionString, version, firstGid,
      shifts, counts, truncated = zeroPad)
  }
}
