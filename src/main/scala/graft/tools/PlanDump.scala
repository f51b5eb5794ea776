package graft.tools

import graft.{Session, SparkEntry}

/** Dumps `.explain("formatted")` for named queries to files — the
  * committed plan evidence for the optimization-round write-ups
  * (`plans/rNN/<query>_{before,after}.txt`). A `before` plan is
  * produced either from the previous round's worktree (copy this file
  * in, compile, run) or — for injected-rule changes — from the current
  * tree with the rule excluded via
  * `GRAFT_PLANDUMP_EXCLUDED_RULES=<ruleName>` (env — `run / fork :=
  * true` keeps sbt-JVM -D properties out of the forked runMain JVM).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <names...>
  * writes <outDir>/<name>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> " +
          "<names...>  (writes <outDir>/<name>_<suffix>.txt per query)")
      sys.exit(1)
    }
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    val suffix = args(2)
    val names = args.drop(3).toSeq
    outDir.mkdirs()
    val spark = Session.local()
    // env var, not a -D: `run / fork := true` means sbt-JVM system
    // properties never reach the forked runMain JVM
    sys.env.get("GRAFT_PLANDUMP_EXCLUDED_RULES").foreach {
      rules => spark.conf.set("spark.sql.optimizer.excludedRules", rules)
    }
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.write(text) finally w.close()
      println(s"[plandump] wrote ${f.getPath} (${text.length} chars)")
    }
    spark.stop()
  }
}
