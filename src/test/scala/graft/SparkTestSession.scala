package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE renders the whole plan into every listener event. A loop that
      // persists each round nests all earlier rounds in that text, which
      // doubles per round: PageRankSpec's 7-round dangling fit makes
      // strings of ~200 M chars and can exhaust the heap. Cap them as
      // Verify and Bench do, high enough that no asserted plan is cut.
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
