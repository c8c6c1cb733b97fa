package graft

import java.nio.{ByteBuffer, ByteOrder}

/** Crafted v3 TouchDetector pairs for the `touchbin` tests. */
object TouchPairs {

  private def mix(x: Long): Int = {
    var z = x * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    (z ^ (z >>> 27)).toInt
  }

  /** The truthful index entries (gid, count, first record) of `blocks`. */
  def entriesOf(blocks: Seq[(Int, Int)]): Seq[(Int, Int, Long)] =
    blocks.zip(blocks.scanLeft(0L)(_ + _._2)).map { case ((g, c), first) => (g, c, first) }

  /** A v3 pair in byte order `order` holding `blocks` of (gid, records)
    * in file order, with varied values in every field: negative and
    * out-of-range section, segment and branch words (narrowed on
    * decode), every branch_type byte, and random float bit patterns,
    * NaNs among them. Its index lists `entries`, which may disagree
    * with the data. Returns the data file's path.
    */
  def writeV3(order: ByteOrder, blocks: Seq[(Int, Int)],
              entries: Seq[(Int, Int, Long)]): String = {
    val dir = java.nio.file.Paths.get(graft.io.TempDirs.create("touch_pair"))
    val rec = 104
    val gids = blocks.flatMap { case (g, c) => Seq.fill(c)(g) }
    val data = ByteBuffer.allocate(gids.length * rec).order(order)
    for ((gid, r) <- gids.zipWithIndex) {
      val base = r * rec
      data.putInt(base, gid)
      data.putInt(base + 4, mix(r) % 0x8000) // pre_section: at most 0x7fff
      for (w <- 2 until 19) data.putInt(base + 4 * w, mix(r.toLong * 31 + w))
      data.putInt(base + 12, 20000 + r % 977) // post gid
      data.put(base + 76, r.toByte)           // branch_type
      for (w <- 20 until 26) data.putInt(base + 4 * w, mix(r.toLong * 37 + w))
    }
    java.nio.file.Files.write(dir.resolve("touchesData.0"), data.array())
    val idx = ByteBuffer.allocate(32 + entries.length * 16).order(order)
    idx.putDouble(1.001).putLong(entries.length)
    idx.put("6.0.0".getBytes("US-ASCII")); idx.position(32)
    entries.foreach { case (g, c, first) => idx.putInt(g).putInt(c).putLong(first * rec) }
    java.nio.file.Files.write(dir.resolve("touches.0"), idx.array())
    dir.resolve("touchesData.0").toString
  }

  /** Overwrites 32-bit words of the v3 data file `dataPath` in byte
    * order `order`: each patch is (record, word, value).
    */
  def patchV3(dataPath: String, order: ByteOrder, patches: Seq[(Int, Int, Int)]): Unit = {
    val path = java.nio.file.Paths.get(dataPath)
    val data = ByteBuffer.wrap(java.nio.file.Files.readAllBytes(path)).order(order)
    patches.foreach { case (r, w, v) => data.putInt(r * 104 + 4 * w, v) }
    java.nio.file.Files.write(path, data.array())
  }
}
