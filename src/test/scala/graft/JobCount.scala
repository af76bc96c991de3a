package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The job counter of the specs that bound how many Spark jobs a call
  * launches: the jobs `body` starts on `s`'s context from this thread,
  * counted by a fresh job group with the listener bus drained on both
  * sides.
  */
object JobCount {
  def apply(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"job-count-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted jobs")
    try { body; org.apache.spark.TestListenerBus.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    n.get
  }
}
