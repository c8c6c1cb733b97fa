package graft

import graft.sources.DriverScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.{InputPartition, Scan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** The V2 scans of a frame's optimized plan: what was pushed into a
  * scan and the splits it plans, the same whether the scan runs as a
  * Spark job or is read on the driver.
  */
object ScanPlans {

  def scans(df: DataFrame): Seq[Scan] =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan }

  /** The scans' descriptions, joined by " ; ". */
  def description(df: DataFrame): String = scans(df).map(_.description()).mkString(" ; ")

  /** The splits the scans plan; a scan read on the driver reads its
    * batch scan's splits.
    */
  def partitions(df: DataFrame): Seq[InputPartition] = scans(df).flatMap {
    case d: DriverScan => d.batch.toBatch.planInputPartitions()
    case s => s.toBatch.planInputPartitions()
  }

  def splits(df: DataFrame): Int = partitions(df).length

  /** Whether a scan of the frame is read on the driver. */
  def onDriver(df: DataFrame): Boolean = scans(df).exists(_.isInstanceOf[DriverScan])
}
