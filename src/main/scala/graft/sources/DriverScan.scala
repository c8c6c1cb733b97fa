package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{LocalScan, PartitionReader, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.types.StructType

/** A batch scan whose planned splits the driver can read itself, with
  * the reader its tasks use.
  */
private[graft] trait DriverReadable extends Scan with SupportsReportStatistics {
  /** Every row of every planned split, read on the driver. */
  def readOnDriver(): Array[InternalRow]
}

/** A key-narrowed point read small enough to read on the driver. Spark
  * plans a `LocalScan` as a `LocalTableScanExec`, which reads [[rows]]
  * at physical planning, so collecting it starts no Spark job: no
  * closure cleaning, no task serialization, no broadcast. The schema,
  * description and statistics are the batch scan's, so `explain()`
  * shows the same pushed ranges and Catalyst costs the same size.
  */
private[graft] final class DriverScan(val batch: DriverReadable)
    extends LocalScan with SupportsReportStatistics {
  override def readSchema(): StructType = batch.readSchema()
  override def description(): String = batch.description()
  override def estimateStatistics(): Statistics = batch.estimateStatistics()
  override def rows(): Array[InternalRow] = batch.readOnDriver()
}

private[graft] object DriverScan {

  /** The largest planned input, in bytes, that a point read reads on
    * the driver. Sized so that a read at the bound costs the driver no
    * more than the job it replaces: on a 4-core VM (`local[4]`, median
    * of 25 warm `collect()`s), a touch read of 4.16 MB of planned
    * records took 54 ms on the driver against 93 ms as a job, and a
    * 4 MiB `.h5` read of two columns 134 ms against 297 ms; a job of
    * the `neuron_lookup` benchmark costs 11–34 ms of driver time,
    * mostly closure cleaning and task set-up. Past the bound the read
    * runs on one core where a job spreads it over all, and its rows sit
    * in driver memory until the action ends, so the bound stays at the
    * `.h5` reader's 4 MiB chunk.
    */
  val MaxBytes: Long = 4L << 20

  /** `batch` read on the driver when key predicates were pushed into it
    * (`keyed`) and its exactly reported planned input fits
    * [[MaxBytes]]; otherwise `batch`, planned as a Spark job.
    */
  def orBatch(keyed: Boolean, batch: DriverReadable): Scan =
    if (keyed && batch.estimateStatistics().sizeInBytes().getAsLong <= MaxBytes) new DriverScan(batch)
    else batch

  /** Hands every value of `reader` to `each`, then closes it. */
  def drain[T](reader: PartitionReader[T])(each: T => Unit): Unit =
    try while (reader.next()) each(reader.get()) finally reader.close()
}
