package graft.bench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}

/** A seeded, closed-form synthetic TouchDetector circuit: `files` pairs
  * of v3 `touchesData.N` / `touches.N` (layout in FIXTURES.md §A) with
  * disjoint gid ranges. Pair `seed mod files` is big-endian, the rest
  * little-endian.
  *
  * Every value is a pure function of (seed, gid, ordinal), so the
  * expected totals below are computed from the formulas alone, never
  * from the written bytes. Per-gid counts are skewed: every 8th gid
  * (offset by the seed) carries 4× the light count, and each gid adds a
  * hashed jitter of up to half the light count.
  */
final case class Circuit(seed: Long, files: Int, gidsPerFile: Int,
                         lightCount: Int, targets: Int) {
  require(files >= 1 && gidsPerFile >= 1 && lightCount >= 2 && targets >= 1)

  val gids: Int = files * gidsPerFile

  def count(gid: Int): Int = {
    val heavy = Math.floorMod(gid + seed, 8L) == 0L
    val base = if (heavy) 4 * lightCount else lightCount
    base + ((Circuit.mix(seed, gid.toLong) >>> 1) % (lightCount / 2 + 1)).toInt
  }

  val counts: Array[Int] = Array.tabulate(gids)(count)

  /** First global edge position of each gid once the edges are sorted by
    * source gid (gid blocks are contiguous in that order); `gids + 1`
    * entries, the last being the record total.
    */
  val prefix: Array[Long] = counts.scanLeft(0L)(_ + _)

  def records: Long = prefix(gids)

  /** synapse_id = (gid << 24) + ordinal within the gid. */
  def synapseIdSum(gid: Int): Long = {
    val c = counts(gid).toLong
    (gid.toLong << 24) * c + c * (c - 1) / 2
  }

  def synapseIdSum: Long = (0 until gids).iterator.map(g => synapseIdSum(g)).sum

  /** Σ source_node_id over the edge_id range [lo, hi) of the
    * source-sorted edge order.
    */
  def sourceSumInRange(lo: Long, hi: Long): Long = {
    var g = java.util.Arrays.binarySearch(prefix, lo) match {
      case i if i >= 0 => i
      case i => -i - 2
    }
    var sum = 0L
    while (g < gids && prefix(g) < hi) {
      val overlap = math.min(hi, prefix(g + 1)) - math.max(lo, prefix(g))
      if (overlap > 0) sum += g.toLong * overlap
      g += 1
    }
    sum
  }

  def bigEndianFile: Int = Math.floorMod(seed, files.toLong).toInt

  /** Write every pair into `dir`; returns the bytes written. */
  def write(dir: Path): Long = {
    Files.createDirectories(dir)
    (0 until files).map(f => writePair(dir, f)).sum
  }

  private def writePair(dir: Path, f: Int): Long = {
    val order = if (f == bigEndianFile) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val first = f * gidsPerFile
    val rec = Circuit.RecordSize
    val data = FileChannel.open(dir.resolve(s"touchesData.$f"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    val buf = ByteBuffer.allocateDirect(rec * 8192).order(order)
    var bytes = 0L
    try {
      for (gid <- first until first + gidsPerFile; k <- 0 until counts(gid)) {
        if (buf.remaining < rec) { bytes += drain(data, buf) }
        putRecord(buf, gid, k)
      }
      bytes += drain(data, buf)
    } finally data.close()

    val index = ByteBuffer.allocate(32 + 16 * gidsPerFile).order(order)
    index.putDouble(1.001).putLong(gidsPerFile.toLong)
    index.put(java.util.Arrays.copyOf("6.0.0".getBytes("US-ASCII"), 16))
    for (gid <- first until first + gidsPerFile)
      index.putInt(gid).putInt(counts(gid))
        .putLong((prefix(gid) - prefix(first)) * rec)
    Files.write(dir.resolve(s"touches.$f"), index.array())
    bytes + index.capacity
  }

  private def drain(ch: FileChannel, buf: ByteBuffer): Long = {
    buf.flip()
    val n = buf.remaining
    while (buf.hasRemaining) ch.write(buf)
    buf.clear()
    n
  }

  /** One 104-byte v3 record (touch_defs.h field order, C padding kept).
    * Integer fields stay inside the decoder's guards (section ≤ 0x7fff);
    * float fields are small dyadic fractions, exact in float32.
    */
  private def putRecord(b: ByteBuffer, gid: Int, k: Int): Unit = {
    val h1 = Circuit.mix(seed, (gid.toLong << 24) | k)
    val h2 = Circuit.mix(h1, 2L)
    val h3 = Circuit.mix(h1, 3L)
    val h4 = Circuit.mix(h1, 4L)
    def frac(h: Long, shift: Int, bits: Int, scale: Float): Float =
      ((h >>> shift) & ((1L << bits) - 1)).toFloat / scale
    b.putInt(gid)                                   // pre neuron
      .putInt((h1 & 0x3fff).toInt)                  // pre section
      .putInt(((h1 >>> 14) & 0xff).toInt)           // pre segment
      .putInt(((h1 >>> 22) % targets).toInt)        // post neuron
      .putInt((h2 & 0x3fff).toInt)                  // post section
      .putInt(((h2 >>> 14) & 0xff).toInt)           // post segment
      .putInt(((h2 >>> 22) & 0x3f).toInt)           // branch order
      .putFloat(frac(h2, 28, 16, 16f))              // distance to soma
      .putFloat(frac(h2, 44, 10, 8f))               // pre offset
      .putFloat(frac(h1, 54, 10, 8f))               // post offset
      .putFloat(frac(h3, 0, 16, 65536f))            // pre section fraction
      .putFloat(frac(h3, 16, 16, 65536f))           // post section fraction
    for (s <- Seq(32, 44, 52)) b.putFloat(frac(h3, s, 12, 4f)) // pre position
    for (s <- Seq(0, 12, 24)) b.putFloat(frac(h4, s, 12, 4f))  // post position
    b.putFloat(frac(h4, 36, 12, 256f))              // spine length
      .put((((h4 >>> 48) & 3) << 4 | ((h4 >>> 50) & 3)).toByte) // branch type nibbles
      .put(0.toByte).put(0.toByte).put(0.toByte)    // padding to 80
    for (s <- Seq(52, 40, 28)) b.putFloat(frac(h2, s, 12, 4f)) // pre position center
    for (s <- Seq(40, 28, 16)) b.putFloat(frac(h1, s, 12, 4f)) // post position surface
  }
}

object Circuit {
  val RecordSize = 104

  /** splitmix64 finalizer over (a, b). */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A circuit of about `records` touches over 4 pairs, with `targets`
    * post-synaptic neurons. The mean count per gid is ~1.625 × light.
    */
  def sized(seed: Long, records: Long, light: Int = 160, targets: Int = 20000): Circuit = {
    val files = 4
    val perFile = math.max(1L, math.round(records / (files * light * 1.625))).toInt
    Circuit(seed, files, perFile, light, targets)
  }
}
