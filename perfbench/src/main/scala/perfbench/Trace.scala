package perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._

/** Spark listener that keeps raw job, stage and task events, plus the
  * benchmark's own spans (name, start, end, parent). Jobs are attributed
  * to spans through the `perfbench.span` local property set on the
  * SparkContext around each span. A job submitted from a pooled thread
  * can carry an inherited, stale property; such a job (and one without
  * the property) falls back to the innermost span open at its start.
  *
  * Everything stays in memory; [[Tracer.summary]] and [[Tracer.spansJson]]
  * read it out. The time spent in the listener's own callbacks is kept
  * too: it is the tracing cost an op pays (see [[Tracer.listenerS]]).
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Task]]

  /** (nanoTime at entry, nanoseconds spent) of every listener callback. */
  private val callbacks = mutable.ArrayBuffer.empty[(Long, Long)]
  private def timed(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    body
    callbacks += ((t, System.nanoTime() - t))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, prop.map(_.toInt))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += Task(
      e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten)
  }

  // ------------------------------------------------------------ spans

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { ListenerBusDrain(sc); sc.removeSparkListener(this) }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id),
      System.currentTimeMillis(), System.nanoTime())
    spans += s; stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def owner(j: Job): Option[Int] = {
    def open(s: Span) = j.start >= s.startMs && j.start <= s.endMs
    j.prop.filter(id => id < spans.size && open(spans(id))).orElse(
      spans.filter(open).sortBy(s => -s.startNs).headOption.map(_.id))
  }

  /** Counters of every job attributed to span `root` or a descendant,
    * once the listener bus has delivered every event posted so far. */
  def summary(root: Span): Counters = {
    ListenerBusDrain(sc)
    synchronized(count(root))
  }

  /** Seconds spent in this listener's callbacks while span `root` was
    * open: the work tracing adds to the op, were it on the op's path. */
  def listenerS(root: Span): Double = {
    ListenerBusDrain(sc)
    synchronized(callbacks.collect {
      case (t, d) if t >= root.startNs && t <= root.endNs => d
    }.sum / 1e9)
  }

  private def count(root: Span): Counters = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (s.parent.exists(ids)) ids += s.id)
    val js = jobs.values.filter(j => owner(j).exists(ids)).toSeq
    val jobIds = js.map(_.id).toSet
    val ts = stageJob.collect { case (st, jb) if jobIds(jb) => st }
      .flatMap(st => tasks.getOrElse(st, Nil).map(st -> _)).toSeq
    // wall time in the span with no job running
    val busy = js.map(j => (math.max(j.start, root.startMs),
        math.min(if (j.end < 0) root.endMs else j.end, root.endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
        if (a >= hi) (acc + b - a, b) else if (b > hi) (acc + b - hi, b) else (acc, hi)
      }._1
    val skew = ts.groupBy(_._1).values.map(_.map(_._2.ms).sorted).collect {
      case d if d.size >= 2 && d.last >= 50 => d.last.toDouble / math.max(1L, d(d.size / 2))
    }
    Counters(root.wallS, js.size, js.map(_.stages).sum, ts.size,
      math.max(0.0, root.wallS - busy / 1e3),
      ts.map(_._2.cpuNs).sum / 1e9, ts.map(_._2.gcMs).sum / 1e3,
      ts.map(_._2.inBytes).sum / 1e6, ts.map(_._2.inRecords).sum,
      ts.map(_._2.shuffleBytes).sum / 1e6, ts.map(_._2.spillBytes).sum / 1e6,
      ts.map(_._2.outBytes).sum / 1e6, if (skew.isEmpty) 1.0 else skew.max)
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent.getOrElse("null")},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val Prop = "perfbench.span"

  final case class Job(id: Int, start: Long, var end: Long, prop: Option[Int],
      var stages: Int = 0)
  final case class Task(ms: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
      inRecords: Long, shuffleBytes: Long, spillBytes: Long, outBytes: Long)
  final case class Span(id: Int, name: String, parent: Option[Int],
      startMs: Long, startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = 0L
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class Counters(wallS: Double, jobs: Int, stages: Int, tasks: Int,
      driverS: Double, taskCpuS: Double, gcS: Double, inputMb: Double,
      inputRecords: Long, shuffleMb: Double, spillMb: Double, outputMb: Double,
      taskSkew: Double)
}

/** The one engine counter the untraced runs need: bytes of files Spark
  * wrote (for write amplification). Sums task output bytes. */
final class OutputBytes(sc: SparkContext) extends SparkListener {
  private var bytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) bytes += e.taskMetrics.outputMetrics.bytesWritten
  }
  /** Output bytes so far, once every started job's events are in. */
  def total(): Long = { ListenerBusDrain(sc); synchronized(bytes) }
}
