package graft.tools

import graft.{Session, SparkEntry}

/** Dumps the POST-execution (final AQE) formatted plan for named queries
  * — where runtime exchange/stage reuse shows up as `ReusedQueryStage` /
  * shared shuffle ids, which the pre-execution `explain` (PlanDump,
  * `isFinalPlan=false`) cannot show. Evidence tool for optimization
  * write-ups that claim "AQE's stage cache computes this subtree once".
  *
  * Usage: runMain graft.tools.FinalPlan <sfDir> <outDir> <suffix> <names...>
  * writes <outDir>/<name>_<suffix>.txt per query (after one noop run).
  */
object FinalPlan {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "Usage: runMain graft.tools.FinalPlan <sfDir> <outDir> <suffix> " +
          "<names...>  (writes <outDir>/<name>_<suffix>.txt per query)")
      sys.exit(1)
    }
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    val suffix = args(2)
    val names = args.drop(3).toSeq
    outDir.mkdirs()
    val spark = Session.local()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // run THIS DataFrame's own QueryExecution (a noop write would plan
      // a separate write command and leave this one isFinalPlan=false);
      // toRdd.count() materializes every partition without deserializing
      // rows to the driver
      df.queryExecution.toRdd.count()
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.write(text) finally w.close()
      println(s"[finalplan] wrote $f (${text.length} chars)")
    }
    spark.stop()
  }
}
