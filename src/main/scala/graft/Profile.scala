package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Per-gate diagnostics over the [[SparkEntry.queries]] gates, on one
  * session built by [[Session.local]]. Usage:
  * {{{
  *   runMain graft.Profile time    <sfDir> <repeats> [names...]
  *   runMain graft.Profile parts   <sfDir> <names...>
  *   runMain graft.Profile jobs    <sfDir> <runs> <names...>
  *   runMain graft.Profile plan    <sfDir> <outDir> <suffix> <names...>
  *   runMain graft.Profile final   <sfDir> <outDir> <suffix> <names...>
  *   runMain graft.Profile audit   <sfDir> [names...]
  *   runMain graft.Profile compare <sfDir> <sfDirB> [names...]
  * }}}
  * No names means every gate. Gates run into the noop sink.
  *  - `time`: the minimum wall seconds of `repeats` runs, gates sorted
  *    slowest first.
  *  - `parts`: two runs, each split into building the frame (eager
  *    fixtures and memos run here), Catalyst planning, and execution; the
  *    first run pays the gate's first-time compiles and fixtures.
  *  - `jobs`: every Spark job of each run, with its seconds and stages —
  *    for sequential-barrier and recompute pathologies that a gate's wall
  *    time cannot localize.
  *  - `plan`: the formatted pre-execution plan, to
  *    `<outDir>/<name>_<suffix>.txt`.
  *  - `final`: the formatted plan after one run, once AQE has finalized
  *    it: runtime stage reuse shows as `ReusedQueryStage` or shared
  *    shuffle ids, which `plan` cannot show. Same file layout.
  *  - `audit`: one line per gate of join strategies, pushed filters,
  *    exchanges and whole-stage codegen spans of the final plan.
  *  - `compare`: a warm run and a timed run at each directory, and the
  *    ratio — a replica from `graft.tools.Replicate` against its source
  *    answers whether a plan survives a scale-up.
  *
  * `GRAFT_PLANDUMP_EXCLUDED_RULES=<rule,...>` sets
  * `spark.sql.optimizer.excludedRules` on the session, for the "before"
  * side of an injected rule's plans (an environment variable, because
  * `run / fork := true` keeps sbt's `-D` properties out of the forked
  * JVM).
  */
object Profile {

  private val Usage = "usage: Profile time <sfDir> <repeats> [names...] | " +
    "parts <sfDir> <names...> | jobs <sfDir> <runs> <names...> | " +
    "plan|final <sfDir> <outDir> <suffix> <names...> | " +
    "audit <sfDir> [names...] | compare <sfDir> <sfDirB> [names...]"

  def main(args: Array[String]): Unit = {
    val run = mode(args.toList)
    val spark = Session.local()
    sys.env.get("GRAFT_PLANDUMP_EXCLUDED_RULES")
      .foreach(spark.conf.set("spark.sql.optimizer.excludedRules", _))
    try run(spark) finally spark.stop()
  }

  /** The mode `args` name, to run on a session; `IllegalArgumentException`
    * with the usage when they name none. */
  def mode(args: List[String]): SparkSession => Unit = args match {
    case "time" :: sf :: repeats :: names => time(_, sf, repeats.toInt, names)
    case "parts" :: sf :: names => parts(_, sf, names)
    case "jobs" :: sf :: runs :: names => jobs(_, sf, runs.toInt, names)
    case "plan" :: sf :: out :: suffix :: names =>
      writePlans(_, sf, out, suffix, names, "plandump", afterRun = false)
    case "final" :: sf :: out :: suffix :: names =>
      writePlans(_, sf, out, suffix, names, "finalplan", afterRun = true)
    case "audit" :: sf :: names => audit(_, sf, names)
    case "compare" :: a :: b :: names => spark => {
      def label(dir: String) = new File(dir).getName
      compare(spark, a, b, names).foreach { case (name, ta, tb) =>
        println(f"[compare] $name%-26s ${label(a)}=$ta%7.2fs  " +
          f"${label(b)}=$tb%7.2fs  ratio=${tb / ta}%5.2f")
      }
    }
    case _ => throw new IllegalArgumentException(Usage)
  }

  private type Gate = (SparkSession, String) => DataFrame

  private def gates(names: Seq[String]): Seq[(String, Gate)] =
    if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
    else names.map(n => n -> SparkEntry.queries(n))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run `df`'s own query execution, so that its AQE plan is final (a
    * noop write plans a separate command and leaves this one unfinalized);
    * counting the RDD materializes every partition without moving rows to
    * the driver. */
  private def execute(df: DataFrame): DataFrame = {
    df.queryExecution.toRdd.count()
    df
  }

  private def time(spark: SparkSession, sf: String, repeats: Int,
      names: Seq[String]): Unit =
    gates(names).map { case (name, fn) =>
      name -> (1 to repeats).map(_ => Measure.timed(noop(fn(spark, sf))).wallS).min
    }.sortBy(-_._2).foreach { case (n, t) => println(f"$t%8.2fs  $n") }

  private def parts(spark: SparkSession, sf: String,
      names: Seq[String]): Unit =
    gates(names).foreach { case (name, fn) =>
      (1 to 2).foreach { i =>
        val built = Measure.timed(fn(spark, sf))
        val planned = Measure.timed(built.value.queryExecution.executedPlan)
        val ran = Measure.timed(noop(built.value))
        println(f"[parts] $name run$i build=${built.wallS}%5.2fs " +
          f"plan=${planned.wallS}%5.2fs exec=${ran.wallS}%5.2fs")
      }
    }

  private def jobs(spark: SparkSession, sf: String, runs: Int,
      names: Seq[String]): Unit =
    gates(names).foreach { case (name, fn) =>
      (1 to runs).foreach { r =>
        val (t, js) = Measure.jobs(spark)(Measure.timed(noop(fn(spark, sf))))
        println(f"[jobs] $name run $r: ${t.wallS}%.2fs, ${js.size} jobs")
        js.foreach(j => println(f"  job ${j.id}%3d ${j.seconds}%7.2fs  ${j.stages}"))
      }
    }

  private def writePlans(spark: SparkSession, sf: String, out: String,
      suffix: String, names: Seq[String], tag: String,
      afterRun: Boolean): Unit = {
    new File(out).mkdirs()
    gates(names).foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val text = (if (afterRun) execute(df) else df).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val f = new File(out, s"${name}_$suffix.txt")
      val w = new PrintWriter(f, "UTF-8")
      try w.write(text) finally w.close()
      println(s"[$tag] wrote ${f.getPath} (${text.length} chars)")
    }
  }

  private def audit(spark: SparkSession, sf: String,
      names: Seq[String]): Unit =
    gates(names).foreach { case (name, fn) =>
      val plan = execute(fn(spark, sf)).queryExecution.executedPlan.toString
      def count(s: String) = plan.sliding(s.length).count(_ == s)
      val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
        "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
        .map(j => j -> count(j)).filter(_._2 > 0)
        .map { case (j, n) => s"$j x$n" }.mkString(", ")
      val pushed = count("PushedFilters: [")
      val pushedEmpty = count("PushedFilters: []")
      // codegen'd operators print "*(stageId)": count distinct stages
      val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
        .map(_.group(1)).toSet.size
      println(f"$name%-28s joins[$joins] pushed=${pushed - pushedEmpty}/$pushed " +
        f"exchanges=${count("Exchange ")} codegenSpans=$wsc")
    }

  /** Per gate, the wall seconds of a timed run at `a` and at `b`, each
    * after a warm run at the same directory. */
  def compare(spark: SparkSession, a: String, b: String,
      names: Seq[String]): Seq[(String, Double, Double)] =
    gates(names).map { case (name, fn) =>
      def at(dir: String): Double = {
        noop(fn(spark, dir))
        Measure.timed(noop(fn(spark, dir))).wallS
      }
      (name, at(a), at(b))
    }
}
