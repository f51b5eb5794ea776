package graft

import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The single wiring: [[Session.local]] injects every Catalyst extension
  * at build time, so the shared test session (built by it) plans the
  * TopK strategy and rewrite and resolves the native SQL functions
  * without any other registration step, whichever specs ran before. */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("row_number() <= k plans TopKPerGroup partial + final and no " +
      "WindowGroupLimit") {
    val df = (1 to 200).map(i => (i % 5, (i * 31) % 97, i))
      .toDF("g", "v", "id").repartition(4)
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val top = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    // Spark's InferWindowGroupLimit still puts a WindowGroupLimit above
    // the injected TopKPerGroup; the injected strategy plans it away
    assert(top.queryExecution.optimizedPlan
      .collectFirst { case l: WindowGroupLimit => l }.isDefined)
    val plan = top.queryExecution.executedPlan.toString()
    assert("TopKPerGroup .*3, false".r.findFirstIn(plan).isDefined, plan)
    assert("TopKPerGroup .*3, true".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    assert(top.count() == 15) // 5 groups x 3
  }

  test("the injected SQL functions resolve in spark.sql") {
    val r = spark.sql(
      "SELECT great_circle(0.0D, 0.0D, 0.0D, 1.0D) AS d, " +
        "strip_accents('café') AS s").head()
    assert(math.abs(r.getDouble(0) - 60.0) < 0.5, r) // 1° of arc ≈ 60 nm
    assert(r.getString(1) == "cafe")
  }

  test("a TopK.perGroup gate plans partial + final on the shared session") {
    val df = graft.ops.ExtraOps.topkPerGroup(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString()
    assert("TopKPerGroup .*3, false".r.findFirstIn(plan).isDefined, plan)
    assert("TopKPerGroup .*3, true".r.findFirstIn(plan).isDefined, plan)
    assert(df.count() == 9) // 3 return flags x 3
  }
}
