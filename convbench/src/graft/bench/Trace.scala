package graft.bench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder: each span is (run id, name, parent, start,
  * end), written out only when the benchmark ends. A span's parent is
  * the span open around it when it started.
  */
final class Spans {
  final case class Span(id: Int, run: Int, name: String, parent: Int,
                        startNs: Long, endNs: Long)

  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val originNs: Long = System.nanoTime()

  def apply[T](run: Int, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, run, name, parent, t0, System.nanoTime())
      open = open.tail
    }
  }

  def jsonLines: Seq[String] = done.sortBy(_.startNs).map { s =>
    Json.obj(Seq("id" -> s.id, "run" -> s.run, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9))
  }.toSeq
}

/** Spark's own per-stage and per-task numbers for one traced operation,
  * read from a listener the benchmark registers on the context.
  */
final case class SparkCounts(
    jobs: Int, stages: Int, tasks: Int,
    stageBusyS: Double, executorRunS: Double, executorCpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double, taskSkew: Double)

final class StageListener extends SparkListener {
  private val jobs = new java.util.concurrent.atomic.AtomicInteger
  private val stages = ArrayBuffer.empty[StageInfo]
  private val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.synchronized { stages += e.stageInfo }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskMs.synchronized {
    taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
  }

  /** Counts since construction; call after the listener bus drained. */
  def counts(): SparkCounts = stages.synchronized {
    taskMs.synchronized {
      val ms = stages.map(_.taskMetrics).toSeq
      def sumL(f: org.apache.spark.executor.TaskMetrics => Long) = ms.map(f).sum.toDouble
      val mb = 1024.0 * 1024.0
      // stage intervals merged, so stages running side by side count once
      val intervals = stages.flatMap(s => for (a <- s.submissionTime; b <- s.completionTime)
        yield (a, b)).sortBy(_._1)
      var busyMs = 0L
      var cur: Option[(Long, Long)] = None
      intervals.foreach { case (a, b) =>
        cur match {
          case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
          case Some((ca, cb)) => busyMs += cb - ca; cur = Some((a, b))
          case None => cur = Some((a, b))
        }
      }
      cur.foreach { case (ca, cb) => busyMs += cb - ca }
      val skews = taskMs.values.filter(_.size >= 2).map { d =>
        val sorted = d.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
      }
      SparkCounts(
        jobs = jobs.get, stages = stages.size, tasks = taskMs.values.map(_.size).sum,
        stageBusyS = busyMs / 1e3,
        executorRunS = sumL(_.executorRunTime) / 1e3,
        executorCpuS = sumL(_.executorCpuTime) / 1e9,
        gcS = sumL(_.jvmGCTime) / 1e3,
        shuffleWriteMb = sumL(_.shuffleWriteMetrics.bytesWritten) / mb,
        shuffleReadMb = sumL(_.shuffleReadMetrics.totalBytesRead) / mb,
        spillMb = sumL(m => m.memoryBytesSpilled + m.diskBytesSpilled) / mb,
        taskSkew = if (skews.isEmpty) 1.0 else skews.max)
    }
  }
}

object StageListener {
  /** Run `body` with a fresh listener attached; returns its result and
    * the listener's counts once every event of `body` was delivered.
    */
  def around[T](sc: SparkContext)(body: => T): (T, SparkCounts) = {
    val l = new StageListener
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.BenchShim.drainListeners(sc)
      (r, l.counts())
    } finally sc.removeSparkListener(l)
  }
}
