package graft.bench

import java.nio.file.{Files, Path, Paths}

import graft.io.{Hdf5Mini, SchemaSidecar}
import graft.pipelines.{SonataH5, TouchToParquet}
import graft.sources.TouchDataSource
import graft.model.TouchModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one operation's output check (run outside the timed
  * part): the rows the operation produced and, for lookups, the latency
  * of each lookup it made.
  */
final case class Check(ok: Boolean, rows: Long, what: String, lookupS: Seq[Double] = Nil)

/** One benchmark workload over a generated circuit. `run` performs one
  * timed operation and returns the check of its output, which the
  * harness runs after the clock stops.
  */
trait Workload {
  def circuit: Circuit
  def touchDir: String
  /** Untimed preparation of program-made inputs (needs a session);
    * returns the checks of what the program made.
    */
  def prepare(spark: SparkSession): Seq[Check] = Nil
  def run(spark: SparkSession, i: Int): () => Check
  /** Operations per warm-up pass. */
  def warmupOps: Int = 1
  /** Untimed operations after the last set-up, before the window. */
  def settleOps: Int
  /** Bytes the program wrote to disk per input record. */
  def outBytesPerRecord: Double
}

object Workloads {
  val Population = "default"
  val LookupGids = 4
  val LookupEdges = 4096

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "touch2parquet" => new TouchToParquetLoad(Circuit.sized(seed, 1000000L), work)
    case "neuron_lookup" => new NeuronLookupLoad(Circuit.sized(seed, 100000L), work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def sortTiebreak(edges: DataFrame): Seq[String] =
    edges.columns.filterNot(Set("source_node_id", "target_node_id", "synapse_id")).toSeq

  /** The parquet2sonata job as cli.Touch2Sonata orders it: total order
    * over every column but synapse_id (which the sink drops).
    */
  def toSonata(spark: SparkSession, parquetDir: String, h5: String): Unit = {
    val edges = SchemaSidecar.readParquetDir(spark, parquetDir)
    val (_, release) = SonataH5.convert(spark, edges, "source_node_id", "target_node_id",
      h5, Population, sortTiebreak(edges))
    release()
  }

  /** touch2parquet output check: row count, Σ synapse_id, v3 schema. */
  def checkParquet(spark: SparkSession, c: Circuit, dir: String): Check = {
    val df = spark.read.parquet(dir)
    val r = df.agg(count(lit(1)), sum(col("synapse_id"))).head()
    val want = TouchDataSource.schemaFor(TouchModel.V3).fields.map(f => (f.name, f.dataType)).toSeq
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val ok = r.getLong(0) == c.records && r.getLong(1) == c.synapseIdSum && got == want
    Check(ok, r.getLong(0),
      s"rows ${r.getLong(0)}/${c.records} synapse_id sum ${r.getLong(1)}/${c.synapseIdSum} " +
        s"schema ${if (got == want) "v3" else got.mkString(",")}")
  }

  /** parquet2sonata output check: edge count through `sonatah5`,
    * per-source-node totals in source_to_target, and Σ range widths in
    * both index directions.
    */
  def checkSonata(spark: SparkSession, c: Circuit, h5: String): Check = {
    val n = spark.read.format("sonatah5").load(h5).count()
    val meta = Hdf5Mini.readMeta(h5)
    def pairs(path: String): Array[(Long, Long)] = {
      val ds = meta.datasets(s"/edges/$Population/indices/$path")
      val rows = ds.dims.head.toInt
      val bb = Hdf5Mini.readSlice(h5, ds.dataAddress, 16, 0L, rows)
      Array.tabulate(rows)(i => (bb.getLong(16 * i), bb.getLong(16 * i + 8)))
    }
    def widths(dir: String): Array[Long] =
      pairs(s"$dir/range_to_edge_id").map { case (a, b) => b - a }
    val w0 = widths("source_to_target")
    val w1 = widths("target_to_source")
    val cum = w0.scanLeft(0L)(_ + _)
    val perSource = pairs("source_to_target/node_id_to_ranges")
      .map { case (a, b) => cum(b.toInt) - cum(a.toInt) }
    val sourcesOk = perSource.length == c.gids &&
      perSource.indices.forall(g => perSource(g) == c.counts(g))
    val ok = n == c.records && w0.sum == c.records && w1.sum == c.records && sourcesOk
    Check(ok, n, s"edges $n/${c.records} range widths ${w0.sum},${w1.sum} " +
      s"per-source totals ${if (sourcesOk) "match" else "differ"}")
  }
}

final class TouchToParquetLoad(val circuit: Circuit, work: String) extends Workload {
  val touchDir: String = s"$work/touches"
  circuit.write(Paths.get(touchDir))
  private var outBytes = 0L

  // the job still speeds up by 10-20% over the calls after the set-ups
  def settleOps: Int = 4

  def run(spark: SparkSession, i: Int): () => Check = {
    val out = Paths.get(work, "t2p-out")
    Workloads.deleteTree(out)
    TouchToParquet.convert(spark, touchDir, out.toString)
    () => {
      outBytes = Workloads.treeBytes(out)
      Workloads.checkParquet(spark, circuit, out.toString)
    }
  }

  def outBytesPerRecord: Double = outBytes.toDouble / circuit.records
}

/** A closed loop of one client: each operation is one `touchbin` read
  * of `LookupGids` source gids followed by one `sonatah5` read of
  * `LookupEdges` consecutive edge ids, both chosen from the seed.
  */
final class NeuronLookupLoad(val circuit: Circuit, work: String) extends Workload {
  import Workloads.{LookupEdges, LookupGids}
  val touchDir: String = s"$work/touches"
  val parquetDir: String = s"$work/edges"
  val h5: String = s"$work/edges.h5"
  circuit.write(Paths.get(touchDir))

  // lookups keep speeding up for a hundred calls and more (JIT); the
  // set-ups and the settling pairs warm past the steep part of that curve
  override def warmupOps: Int = 8
  def settleOps: Int = 80

  /** touch2parquet, then parquet2sonata: the container the lookups read. */
  override def prepare(spark: SparkSession): Seq[Check] = {
    TouchToParquet.convert(spark, touchDir, parquetDir)
    Workloads.toSonata(spark, parquetDir, h5)
    Seq(Workloads.checkParquet(spark, circuit, parquetDir), Workloads.checkSonata(spark, circuit, h5))
  }

  private def pick(i: Int, j: Int, n: Long): Long =
    Math.floorMod(Circuit.mix(Circuit.mix(circuit.seed, 1000003L * i), j), n)

  def run(spark: SparkSession, i: Int): () => Check = {
    val gids = (0 until LookupGids).map(j => pick(i, j, circuit.gids).toInt).distinct
    val t0 = System.nanoTime()
    val touches = spark.read.format("touchbin").load(touchDir)
      .filter(col("source_node_id").isin(gids: _*))
      .select("source_node_id", "synapse_id", "target_node_id", "distance_soma").collect()
    val t1 = System.nanoTime()
    val lo = pick(i, LookupGids, circuit.records - LookupEdges)
    val edges = spark.read.format("sonatah5").load(h5)
      .filter(col("edge_id") >= lo && col("edge_id") < lo + LookupEdges)
      .select("edge_id", "source_node_id", "target_node_id").collect()
    val t2 = System.nanoTime()
    () => {
      val wantRows = gids.map(g => circuit.counts(g).toLong).sum
      val wantSyn = gids.map(g => circuit.synapseIdSum(g)).sum
      val touchOk = touches.length == wantRows &&
        touches.map(_.getLong(1)).sum == wantSyn &&
        touches.forall(r => gids.contains(r.getInt(0)))
      val wantSrc = circuit.sourceSumInRange(lo, lo + LookupEdges)
      val wantIds = LookupEdges.toLong * lo + LookupEdges.toLong * (LookupEdges - 1) / 2
      val edgesOk = edges.length == LookupEdges &&
        edges.map(_.getLong(0)).sum == wantIds &&
        edges.map(_.getInt(1).toLong).sum == wantSrc
      Check(touchOk && edgesOk, touches.length.toLong + edges.length,
        s"touch rows ${touches.length}/$wantRows edge rows ${edges.length}/$LookupEdges",
        Seq((t1 - t0) / 1e9, (t2 - t1) / 1e9))
    }
  }

  def outBytesPerRecord: Double = Files.size(Paths.get(h5)).toDouble / circuit.records
}
