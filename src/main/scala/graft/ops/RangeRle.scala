package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Fused RLE + global run numbering in ONE range shuffle — the
  * reference's adjacency-index inner loop re-expressed on Spark's range
  * partitioner (reference: per-rank RLE `_groupNodeRanges`,
  * src/index/index.cpp:114-137; cross-rank boundary merge,
  * index.cpp:142-153; run numbering by exclusive prefix sum of per-rank
  * counts, index.cpp:272-280).
  *
  * The window-based formulation (`Rle.ranges` + `Offsets.globalPosition`)
  * costs a hash shuffle for the RLE window plus a range shuffle + sample
  * pass + count pass for the numbering. This operator does both in
  * one pass over one range shuffle:
  *
  *   1. range-partition `(dir, node, pos)` and sort within partitions —
  *      Catalyst's RangePartitioning IS the reference's
  *      `MPI_Alltoallv` range exchange;
  *   2. each partition detects its maximal consecutive-`pos` runs
  *      imperatively (sorted input → a running counter, no window);
  *   3. a per-PARTITION summary (first/last key+pos, per-`dir` row
  *      and run counts and node bounds, last run's start) is gathered
  *      to the driver — bounded by the number of partitions, never the
  *      data, exactly the reference's `MPI_Allgather` of rank
  *      boundaries — and a linear walk resolves runs straddling
  *      partition boundaries, assigns each partition its run-number
  *      prefix and totals the per-`dir` facts ([[DirFacts]]);
  *   4. a second pass over the SAME sorted RDD (it reuses the first
  *      pass's shuffle output, so it sees the partitions the summaries
  *      describe; nothing is cached) emits each run once (the partition
  *      where a straddling run ENDS owns it) with its global 0-based
  *      number, per `dir` group, and whether it opens or closes its
  *      node's ranges.
  *
  * At 1000 executors the driver-side state is a few thousand summary
  * rows; every data-sized structure stays distributed.
  */
object RangeRle {

  /** Per-partition boundary summary (the MPI_Allgather payload), arrays
    * indexed by `dir`. `lastRunOpens`: the last run starts a new key.
    */
  private[ops] case class PartSummary(
      firstDir: Int, firstNode: Long, firstPos: Long,
      lastDir: Int, lastNode: Long, lastPos: Long, lastRunStart: Long, lastRunOpens: Boolean,
      rows: Array[Long], runs: Array[Long], minNode: Array[Long], maxNode: Array[Long]) {
    def nRuns: Long = runs.sum
  }

  /** Per-partition resolution computed by the driver walk. */
  private[ops] case class PartPlan(
      continues: Boolean,   // partition's first run continues the previous non-empty partition's last run
      mergedStart: Long,    // true start of that continued run (chain-walked)
      skipLast: Boolean,    // partition's last run is continued by a later partition → that one emits it
      prefix: Long,         // number of runs starting in earlier partitions
      firstOpens: Boolean,  // partition's first run is its node's first range
      lastCloses: Boolean)  // partition's last run is its node's last range

  /** One direction's input rows, numbered ranges, and smallest and
    * largest node id (0 and -1 when the direction is empty). */
  final case class DirFacts(rows: Long, ranges: Long, minNode: Long, maxNode: Long)

  /** Numbered ranges plus the facts of directions 0 and 1. */
  final case class Numbered(ranges: DataFrame, dirs: Seq[DirFacts])

  private type Emitted = (Int, Long, Long, Long, Long, Boolean, Boolean)

  /** `pairs` must have columns (dir: 0 or 1, node_id: long-like,
    * pos: long-like), none null, with `pos` globally distinct within each
    * `dir`. Returns the numbered range list `(dir, node_id, range_start,
    * range_end, range_pos, opens, closes)` — `range_end` half-open,
    * `range_pos` dense and 0-based WITHIN each `dir` in
    * (node_id, range_start) order, `opens`/`closes` true on a node's
    * first/last range in its `dir` — and the per-direction facts.
    */
  def numbered(pairs: DataFrame): Numbered = {
    val key = Seq(col("dir"), col("node_id"), col("pos"))
    fromSorted(typed(pairs).repartitionByRange(key: _*).sortWithinPartitions(key: _*))
  }

  /** [[numbered]]'s range list and a no-op release thunk (nothing is cached). */
  def numberedRanges(pairs: DataFrame): (DataFrame, () => Unit) =
    (numbered(pairs).ranges, () => ())

  /** [[numbered]]'s range list for input that is ALREADY range-partitioned
    * and sorted by `(dir, node_id, pos)` with non-overlapping partition
    * key ranges in partition-id order — skips the range exchange
    * entirely, so the RLE runs as a narrow stage over the caller's
    * layout. The canonical producer is [[Offsets.globalPosition]] when
    * its sort order leads with the node key: `pos` is stamped over the
    * range-sorted partitions, so position order, node clustering, and
    * partition-id order all agree by construction (the CsrIndex fused
    * path). The precondition is NOT checked row-by-row (that would cost
    * the pass the caller is saving); feeding an unsorted frame yields
    * garbage ranges — use [[numbered]] unless the layout is yours.
    */
  def numberedRangesPresorted(pairs: DataFrame): DataFrame = fromSorted(typed(pairs)).ranges

  private def typed(pairs: DataFrame): DataFrame =
    pairs.select(col("dir").cast("int"), col("node_id").cast("long"), col("pos").cast("long"))

  private def key(r: InternalRow): (Int, Long, Long) = {
    require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2), "null dir, node_id or pos")
    val d = r.getInt(0)
    // the per-dir numbering base is tracked for dir 0 only — the
    // operator is defined for the two index directions
    require(d == 0 || d == 1, s"dir must be 0 or 1, got $d")
    (d, r.getLong(1), r.getLong(2))
  }

  private def summarize(it: Iterator[InternalRow]): Option[PartSummary] =
    if (!it.hasNext) None
    else {
      val (fd, fn, fp) = key(it.next())
      val rows, runs = new Array[Long](2)
      val minNode = Array(fn, fn); val maxNode = Array(fn, fn)
      rows(fd) = 1; runs(fd) = 1
      var (ld, ln, lp) = (fd, fn, fp)
      var lastRunStart = fp; var lastRunOpens = true
      while (it.hasNext) {
        val (d, n, p) = key(it.next())
        if (rows(d) == 0) minNode(d) = n // sorted: a dir's first row holds its smallest node
        rows(d) += 1; maxNode(d) = n
        if (d != ld || n != ln || p != lp + 1) {
          runs(d) += 1; lastRunStart = p; lastRunOpens = d != ld || n != ln
        }
        ld = d; ln = n; lp = p
      }
      Some(PartSummary(fd, fn, fp, ld, ln, lp, lastRunStart, lastRunOpens,
        rows, runs, minNode, maxNode))
    }

  private def fromSorted(prepared: DataFrame): Numbered = {
    val spark = prepared.sparkSession
    import spark.implicits._
    val sorted = prepared.queryExecution.toRdd
    val summaries = sorted.mapPartitions(it => Iterator.single(summarize(it))).collect()

    // Driver walk over ≤ #partitions summaries (index.cpp:142-153 +
    // 272-280): resolve boundary-straddling runs, assign run prefixes.
    val plans = new Array[PartPlan](summaries.length)
    var prev = -1                         // previous NON-EMPTY partition
    var runningPrefix = 0L
    var dir0Total = 0L
    for ((summary, p) <- summaries.zipWithIndex) summary match {
      case None =>
        plans(p) = PartPlan(continues = false, 0L, skipLast = false, runningPrefix,
          firstOpens = false, lastCloses = false)
      case Some(s) =>
        val q = if (prev < 0) None else summaries(prev)
        val sharesKey = q.exists(q => s.firstDir == q.lastDir && s.firstNode == q.lastNode)
        val continues = sharesKey && s.firstPos == q.get.lastPos + 1
        // chain walk: if prev was a single continued run, its start (and
        // whether it opens its node) came from further back
        val prevIsOneRun = q.exists(_.nRuns == 1)
        val mergedStart =
          if (!continues) 0L
          else if (prevIsOneRun && plans(prev).continues) plans(prev).mergedStart
          else q.get.lastRunStart
        val firstOpens =
          if (!continues) !sharesKey
          else if (prevIsOneRun) plans(prev).firstOpens
          else q.get.lastRunOpens
        plans(p) = PartPlan(continues, mergedStart, skipLast = false, runningPrefix,
          firstOpens, lastCloses = true)
        if (prev >= 0)
          plans(prev) = plans(prev).copy(skipLast = continues, lastCloses = !sharesKey)
        runningPrefix += s.nRuns - (if (continues) 1 else 0)
        dir0Total += s.runs(0) - (if (continues && s.firstDir == 0) 1 else 0)
        prev = p
    }
    val present = summaries.flatten
    val dirs = Seq(0, 1).map { d =>
      val withRows = present.filter(_.rows(d) > 0)
      DirFacts(withRows.map(_.rows(d)).sum,
        if (d == 0) dir0Total else runningPrefix - dir0Total,
        withRows.map(_.minNode(d)).minOption.getOrElse(0L),
        withRows.map(_.maxNode(d)).maxOption.getOrElse(-1L))
    }

    val ranges = sorted.mapPartitionsWithIndex { (pid, rows) =>
      val it = rows.map(key)
      if (!it.hasNext) Iterator.empty
      else new Iterator[Emitted] {
        private val plan = plans(pid)
        private val head = it.next()
        private var runIdx = 0L
        private var runDir = head._1; private var runNode = head._2
        private var runStart = head._3; private var runEnd = head._3
        private var opens = plan.firstOpens
        private var done = false
        private var pending: Emitted = _

        private def closeRun(closes: Boolean, isLast: Boolean): Unit = {
          val continued = runIdx == 0 && plan.continues
          if (isLast && plan.skipLast) { pending = null; return }
          val start = if (continued) plan.mergedStart else runStart
          val num =
            if (continued) plan.prefix - 1
            else plan.prefix + runIdx - (if (plan.continues) 1 else 0)
          val pos = if (runDir == 0) num else num - dirs.head.ranges
          pending = (runDir, runNode, start, runEnd + 1, pos, opens, closes)
        }

        private def advance(): Unit = {
          pending = null
          while (pending == null && !done) {
            if (!it.hasNext) { closeRun(plan.lastCloses, isLast = true); done = true }
            else {
              val (d, n, p) = it.next()
              val newNode = d != runDir || n != runNode
              if (newNode || p != runEnd + 1) {
                closeRun(closes = newNode, isLast = false)
                runIdx += 1; opens = newNode
                runDir = d; runNode = n; runStart = p; runEnd = p
              } else runEnd = p
            }
          }
        }
        advance()
        override def hasNext: Boolean = pending != null
        override def next(): Emitted = {
          val r = pending; advance(); r
        }
      }
    }.toDF("dir", "node_id", "range_start", "range_end", "range_pos", "opens", "closes")
    Numbered(ranges, dirs)
  }
}
