package graft.sources

import org.apache.spark.sql.DataFrame

/** The record ranges the touch scans of a frame plan, as
  * (data file, first record, end record).
  */
object TouchSplits {
  def ranges(df: DataFrame): Seq[(String, Long, Long)] = graft.ScanPlans.partitions(df).collect {
    case s: TouchSplit => (s.path, s.startRecord, s.startRecord + s.numRecords)
  }
}
