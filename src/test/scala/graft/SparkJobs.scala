package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a piece of code starts, counted by a listener. */
object SparkJobs {

  /** `body`'s result and the number of jobs started while it ran. */
  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Ids of the RDDs currently persisted in the session's context. */
  def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
}
