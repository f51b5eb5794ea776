package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shims

/** Spark jobs started by `body` on the calling thread, counted by a
  * listener that matches a job-local tag (other threads' jobs carry no
  * tag, so they are not counted). */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobcount-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.jobcount") == tag))
          n.incrementAndGet()
    }
    Shims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobcount", tag)
    try {
      val out = body
      Shims.drainListenerBus(sc)
      (out, n.get())
    } finally {
      sc.setLocalProperty("graft.test.jobcount", null)
      sc.removeSparkListener(listener)
    }
  }
}
