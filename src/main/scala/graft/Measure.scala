package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shims

/** The measurements the tools, `Profile` and the specs share: what a
  * body costs ([[timed]]) and which Spark jobs it runs ([[jobs]]). */
object Measure {

  /** `value` and what computing it cost: wall seconds, process CPU seconds
    * (every thread of the JVM, the JIT's and Janino's included) and
    * Janino compiles (one per generated class that missed Spark's code
    * cache). CPU and compiles are process-wide, so work on other threads
    * meanwhile counts too. */
  final case class Timed[A](value: A, wallS: Double, cpuS: Double,
      compiles: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def timed[A](body: => A): Timed[A] = {
    val (w0, c0, k0) = (System.nanoTime(), os.getProcessCpuTime, compiles)
    val value = body
    Timed(value, (System.nanoTime() - w0) / 1e9,
      (os.getProcessCpuTime - c0) / 1e9, compiles - k0)
  }

  /** One Spark job: its id, seconds from start to end (NaN while it still
    * runs), and per stage the task count and the most operator-like RDD
    * scope names, with the first `graft` frame of its call site. */
  final case class Job(id: Int, seconds: Double, stages: String)

  /** `body`'s result and every job that starts between a listener-bus
    * drain before `body` and one after it, in id order. Jobs are not
    * tagged by thread, so jobs that `body` starts on futures count; so do
    * any other thread's, so run nothing else on the context meanwhile. */
  def jobs[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.put(j.jobId, (j.time, describe(j)))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        ended.put(j.jobId, j.time)
    }
    Shims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      Shims.drainListenerBus(sc)
      (out, started.asScala.toSeq.sortBy(_._1).map { case (id, (t0, d)) =>
        Job(id, Option(ended.get(id)).fold(Double.NaN)(t => (t - t0) / 1e3), d)
      })
    } finally sc.removeSparkListener(listener)
  }

  private def describe(j: SparkListenerJobStart): String = {
    val site = j.stageInfos.lastOption.map(_.details.linesIterator
      .filter(_.contains("graft")).take(1).mkString).getOrElse("")
    val stages = j.stageInfos.map { s =>
      val ops = s.rddInfos.flatMap(_.scope)
        .flatMap(_.name.split("\\n")).map(_.takeWhile(_ != ' '))
        .filterNot(n => n.isEmpty || n == "WholeStageCodegen" ||
          n == "mapPartitionsInternal")
        .distinct.take(4).mkString("+")
      s"${s.numTasks}t:$ops"
    }.mkString(" | ")
    s"${j.stageInfos.size} stages [$stages] $site".take(240)
  }
}
