package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.io.{SchemaSidecar, TouchBinary}
import graft.ops.{Offsets, RangeRle}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Converter benchmark entry point: one workload, one seed, one process.
  *
  * Untraced (`--trace 0`): three set-ups (session start plus one
  * warm-up pass each; the last session stays), the workload's untimed
  * settling operations, then operations in a closed loop for
  * `--seconds`, each output checked after its clock stops. Traced
  * (`--trace 1`): the same loop alternating plain and
  * listener-traced operations, then the layer probes and one
  * operation on a `local[1]` session. The run record goes to `--out`.
  */
object ConvBench {
  val Setups = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, work: String, out: String, spansOut: String)

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("work"), m("out"), m("spans-out"))
  }

  def session(master: String, cpus: Int, work: String): SparkSession =
    SparkSession.builder().master(master).appName("convbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  final case class Op(seconds: Double, check: Check, traced: Option[SparkCounts])

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val record = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val master = s"local[${o.cpus}]"
    val t0 = System.nanoTime()
    val w = Workloads(o.workload, o.seed, o.work)
    record("generate_s") = (System.nanoTime() - t0) / 1e9
    val spans = new Spans
    val ops = ArrayBuffer.empty[Op]

    def once(spark: SparkSession, i: Int, traced: Boolean): Op = {
      val (s, check, counts) =
        if (!traced) {
          val a = System.nanoTime()
          val pending = w.run(spark, i)
          val s = (System.nanoTime() - a) / 1e9
          (s, pending(), None)
        } else {
          val ((s, pending), counts) = StageListener.around(spark.sparkContext) {
            val a = System.nanoTime()
            val pending = spans(i, "operation") { w.run(spark, i) }
            ((System.nanoTime() - a) / 1e9, pending)
          }
          (s, pending(), Some(counts))
        }
      if (!check.ok) System.err.println(s"convbench: operation $i check failed: ${check.what}")
      Op(s, check, counts)
    }

    // ---- set-up: session start + one warm-up pass, Setups times
    var spark: SparkSession = null
    var opIndex = 0
    val setupS = (1 to Setups).map { k =>
      if (spark != null) spark.stop()
      val a = System.nanoTime()
      spark = session(master, o.cpus, o.work)
      val started = System.nanoTime()
      if (k == 1) {
        val checks = w.prepare(spark)
        val prepareS = (System.nanoTime() - started) / 1e9
        checks.foreach(c => ops += Op(prepareS, c, None))
        checks.filterNot(_.ok).foreach(c => System.err.println(s"convbench: input check failed: ${c.what}"))
        record("prepare_s") = prepareS
      }
      val b = System.nanoTime()
      (1 to w.warmupOps).foreach { _ => ops += once(spark, opIndex, traced = false); opIndex += 1 }
      (started - a + System.nanoTime() - b) / 1e9
    }

    // ---- settle: untimed operations on the kept session, so the window
    // starts past the steep part of the JIT warm-up curve
    (1 to w.settleOps).foreach { _ => ops += once(spark, opIndex, traced = false); opIndex += 1 }

    // ---- measured window
    val windowStart = System.nanoTime()
    val measured = ArrayBuffer.empty[Op]
    var k = 0
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    // start another operation only if a typical one still ends in time
    while (k < 2 || elapsed + median(measured.map(_.seconds).toSeq) <= o.seconds) {
      // traced runs alternate plain and traced operations
      measured += once(spark, opIndex, traced = o.trace && k % 2 == 1)
      opIndex += 1; k += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    // heap the session still holds once its jobs are done: cached
    // blocks and anything else that outlives an operation
    System.gc()
    val retainedHeapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    ops ++= measured

    val plain = measured.filter(_.traced.isEmpty)
    val wallS = median(plain.map(_.seconds).toSeq)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (!o.trace) {
      metrics("setup_s") = median(setupS)
      metrics("wall_s") = wallS
      metrics("records_per_s") = median(plain.map(op => op.check.rows / op.seconds).toSeq)
      metrics("out_bytes_per_record") = w.outBytesPerRecord
      metrics("retained_heap_mb") = retainedHeapMb
    } else {
      val traced = measured.flatMap(m => m.traced.map(c => (m.seconds, c)))
      def perOp(f: SparkCounts => Double): Double = traced.map(t => f(t._2)).sum / traced.size
      metrics("spark.jobs") = perOp(_.jobs)
      metrics("spark.stages") = perOp(_.stages)
      metrics("spark.tasks") = perOp(_.tasks)
      metrics("spark.driver_s") = traced.map { case (s, c) => s - c.stageBusyS }.sum / traced.size
      metrics("spark.executor_run_s") = perOp(_.executorRunS)
      metrics("spark.executor_cpu_s") = perOp(_.executorCpuS)
      metrics("spark.cpu_util") =
        traced.map(_._2.executorCpuS).sum / (traced.map(_._1).sum * o.cpus)
      metrics("spark.gc_s") = perOp(_.gcS)
      metrics("spark.shuffle_write_mb") = perOp(_.shuffleWriteMb)
      metrics("spark.shuffle_read_mb") = perOp(_.shuffleReadMb)
      metrics("spark.spill_mb") = perOp(_.spillMb)
      metrics("spark.task_skew") = median(traced.map(_._2.taskSkew).toSeq)
      metrics("trace.overhead_ratio") = median(traced.map(_._1).toSeq) / wallS
      metrics ++= probes(spark, w, spans, wallS, o.work)
    }
    spark.stop()
    if (o.trace) {
      val one = session("local[1]", 1, o.work)
      val single = spans(-2, "scale.cores1") { once(one, opIndex, traced = false) }
      ops += single
      one.stop()
      metrics("scale.cores1_wall_s") = single.seconds
      metrics("scale.efficiency") = single.seconds / wallS / o.cpus
    }

    w match {
      case _: NeuronLookupLoad =>
        // each operation is a (touchbin, sonatah5) pair of lookups
        val pairs = plain.map(_.check.lookupS).toSeq
        val all = pairs.flatten
        record("lookups") = all.size
        record("lookup_p50_ms") = median(all) * 1e3
        record("lookup_p95_ms") = quantile(all, 0.95) * 1e3
        record("lookup_touch_p50_ms") = median(pairs.map(_.head)) * 1e3
        record("lookup_h5_p50_ms") = median(pairs.map(_.last)) * 1e3
        record("lookups_per_s") = all.size / plain.map(_.seconds).sum
      case _ => ()
    }
    val failed = ops.count(!_.check.ok)
    record("workload") = o.workload
    record("seed") = o.seed
    record("cpus") = o.cpus
    record("master") = master
    record("trace") = o.trace
    record("window_s") = windowS
    record("warmups") = Setups * w.warmupOps + w.settleOps
    record("setups_s") = setupS
    record("operations") = measured.size
    record("operation_s") = measured.map(_.seconds).toSeq
    record("input_records") = w.circuit.records
    record("input_gids") = w.circuit.gids
    record("input_bytes") = w.circuit.records * Circuit.RecordSize
    record("attempted") = ops.size
    record("failed") = failed
    record("failed_ratio") = failed.toDouble / ops.size
    record("correct") = failed == 0
    record("metrics") = metrics.toMap
    if (o.trace) {
      Files.createDirectories(Paths.get(o.spansOut).getParent)
      Files.write(Paths.get(o.spansOut), spans.jsonLines.asJava)
    }
    Files.write(Paths.get(o.out), Json.value(record.toMap).getBytes("UTF-8"))
  }

  val ProbeReps = 3

  /** The layer calls the workload's operation makes, each timed from
    * outside over the workload's own inputs (median of [[ProbeReps]]
    * calls, each in a span). `neuron_lookup` also probes the
    * parquet2sonata job that made its container, and its layers. A layer
    * the workload never calls reads 0. Pipeline sinks are residuals: the
    * job's median time minus the layer calls it is made of.
    */
  def probes(spark: SparkSession, w: Workload, spans: Spans, wallS: Double,
             work: String): Map[String, Double] = {
    val c = w.circuit
    def timed(name: String)(body: => Any): Double = median((0 until ProbeReps).map { r =>
      val a = System.nanoTime()
      spans(r, name)(body)
      (System.nanoTime() - a) / 1e9
    })
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def touches: DataFrame = spark.read.format("touchbin").load(w.touchDir)
    def touchIndex: Double = timed("io.touch_index") {
      (0 until c.files).foreach(f =>
        TouchBinary.readIndex(TouchBinary.indexFileFor(s"${w.touchDir}/touchesData.$f")))
    }

    def sonataLayers(parquetDir: String): Map[String, Double] = {
      val probeH5 = Paths.get(work, "probe.h5")
      val job = timed("pipelines.parquet2sonata") {
        Files.deleteIfExists(probeH5)
        Workloads.toSonata(spark, parquetDir, probeH5.toString)
      }
      Files.deleteIfExists(probeH5)
      val scan = timed("io.parquet_scan")(noop(SchemaSidecar.readParquetDir(spark, parquetDir)))
      val edges = SchemaSidecar.readParquetDir(spark, parquetDir)
      val ord = (Seq("source_node_id", "target_node_id") ++ Workloads.sortTiebreak(edges)).map(col)
      val pruned = edges.drop("synapse_id")
      val position = timed("ops.global_position") {
        val (positioned, stamped) = Offsets.globalPositionStamped(pruned, ord, "edge_id")
        noop(positioned)
        stamped.unpersist()
      }
      val (positioned, stamped) = Offsets.globalPositionStamped(pruned, ord, "edge_id")
      val pinned = positioned.persist()
      pinned.count()
      stamped.unpersist()
      val rle = timed("ops.range_rle") {
        val (ranges, done) = RangeRle.numberedRanges(pinned.select(
          explode(array(
            struct(lit(0).as("dir"), col("source_node_id").as("node_id")),
            struct(lit(1).as("dir"), col("target_node_id").as("node_id")))).as("k"),
          col("edge_id").as("pos"))
          .select(col("k.dir").as("dir"), col("k.node_id").as("node_id"), col("pos")))
        ranges.count()
        done()
      }
      pinned.unpersist()
      Map("pipelines.parquet2sonata_s" -> job, "io.parquet_scan_s" -> scan,
        "ops.global_position_s" -> position, "ops.range_rle_s" -> rle,
        "pipelines.h5_sink_s" -> (job - scan - position - rle))
    }

    val layers = spans(-1, "probes") {
      w match {
        case _: TouchToParquetLoad =>
          val scan = timed("sources.touch_scan")(noop(touches))
          Map("io.touch_index_s" -> touchIndex,
            "sources.touch_plan_s" -> timed("sources.touch_plan")(touches.queryExecution.executedPlan),
            "sources.touch_scan_s" -> scan,
            "sources.touch_scan_rec_per_s" -> c.records / scan,
            "pipelines.t2p_sink_s" -> (wallS - scan))
        case l: NeuronLookupLoad =>
          val gids = Seq(0, c.gids / 3, c.gids - 1).map(Int.box)
          val lo = c.records / 2
          def range = spark.read.format("sonatah5").load(l.h5)
            .filter(col("edge_id") >= lo && col("edge_id") < lo + Workloads.LookupEdges)
          Map("io.touch_index_s" -> touchIndex,
            "sources.touch_plan_s" -> timed("sources.touch_plan") {
              touches.filter(col("source_node_id").isin(gids: _*)).queryExecution.executedPlan
            },
            "sources.h5_plan_s" -> timed("sources.h5_plan")(range.queryExecution.executedPlan),
            "sources.h5_range_read_s" -> timed("sources.h5_range_read")(range.collect())) ++
            sonataLayers(l.parquetDir)
      }
    }
    LayerMetrics.map(_ -> 0.0).toMap ++ layers
  }

  val LayerMetrics: Seq[String] = Seq(
    "io.touch_index_s", "sources.touch_plan_s", "sources.touch_scan_s",
    "sources.touch_scan_rec_per_s", "pipelines.t2p_sink_s", "pipelines.parquet2sonata_s",
    "io.parquet_scan_s", "ops.global_position_s", "ops.range_rle_s", "pipelines.h5_sink_s",
    "sources.h5_plan_s", "sources.h5_range_read_s")
}
