package graft.tools
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Session, Tables}

/** Micro-bench: native TopKPerGroup vs window row_number on the same data. */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local()
    val li = Tables.load(spark, dir, "lineitem")
    def time(tag: String)(f: => Unit): Unit = {
      f // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      println(f"${ts.min}%8.3fs  $tag")
    }
    val ord = Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    time("window row_number<=3 by l_partkey") {
      val w = Window.partitionBy("l_partkey").orderBy(ord: _*)
      li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
        .write.format("noop").mode("overwrite").save()
    }
    time("native TopKPerGroup k=3 by l_partkey") {
      graft.plans.TopK.perGroup(li, Seq(col("l_partkey")), ord, 3)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
