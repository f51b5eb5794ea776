package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.Shims

/** The physical plans of the SQL executions `body` starts. */
object PlanTrace {

  /** `body`'s result and, per SQL execution it starts, the plan's
    * description and the node names of the plan and of every AQE re-plan. */
  def apply[T](spark: SparkSession)(body: => T)
      : (T, Seq[(String, Seq[String])]) = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, (String, Seq[String])]()
    def names(p: SparkPlanInfo): Seq[String] =
      p.nodeName +: p.children.flatMap(names)
    def add(id: Long, description: String, p: SparkPlanInfo): Unit =
      plans.merge(id, (description, names(p)),
        (a, b) => (a._1 + "\n" + b._1, a._2 ++ b._2))
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          add(s.executionId, s.physicalPlanDescription, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          add(u.executionId, u.physicalPlanDescription, u.sparkPlanInfo)
        case _ =>
      }
    }
    Shims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      Shims.drainListenerBus(sc)
      (out, plans.asScala.values.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Whether any of the plans' node names is a whole-stage codegen stage. */
  def codegen(plans: Iterable[Seq[String]]): Boolean =
    plans.exists(_.exists(_.startsWith("WholeStageCodegen")))
}
