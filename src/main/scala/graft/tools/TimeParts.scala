package graft.tools

import graft.{Session, SparkEntry}

/** Splits a query's wall time into plan-build/optimize vs execute —
  * distinguishes driver-side Catalyst cost from engine throughput. */
object TimeParts {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local()
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, "/root/testdata/sf0.001").write.format("noop")
        .mode("overwrite").save() // warm codegen + memos
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analyze+optimize+plan
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        println(f"[parts] $name run$i build=${(t1 - t0) / 1e9}%5.2fs " +
          f"plan=${(t2 - t1) / 1e9}%5.2fs exec=${(t3 - t2) / 1e9}%5.2fs")
      }
    }
    spark.stop()
  }
}
