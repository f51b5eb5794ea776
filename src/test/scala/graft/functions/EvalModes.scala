package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types.StructType

import graft.TestSpark

/** Evaluates a kernel projection in both of Spark's expression modes:
  * `NO_CODEGEN` runs every expression's interpreted `eval`, and
  * `CODEGEN_ONLY` runs its generated `doGenCode` inside whole-stage
  * codegen, failing instead of falling back to `eval`.
  *
  * Inputs come from an RDD-backed relation: a projection over a local
  * relation (`Seq(..).toDF`) is folded on the driver by
  * `ConvertToLocalRelation`, which evaluates it interpreted whatever the
  * mode, so it never reaches the physical plan. */
object EvalModes {
  lazy val spark = TestSpark.spark

  val Modes: Seq[String] = Seq("NO_CODEGEN", "CODEGEN_ONLY")

  /** `rows` as a relation Spark cannot fold on the driver. */
  def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** `df` collected in `mode`, after checking that the executed plan has
    * whole-stage codegen exactly when the mode generates code. */
  def collect(mode: String)(df: => DataFrame): Seq[Row] =
    TestSpark.withConf("spark.sql.codegen.factoryMode", mode) {
      val d = df
      val plan = d.queryExecution.executedPlan
      val generated = plan.exists(_.isInstanceOf[WholeStageCodegenExec])
      require(generated == (mode == "CODEGEN_ONLY"), s"$mode:\n$plan")
      d.collect().toSeq
    }

  /** `df` collected in each of [[Modes]], in that order. */
  def inBoth(df: => DataFrame): Seq[Seq[Row]] = Modes.map(collect(_)(df))

  /** A value with binaries as byte sequences, doubles as their bits and
    * rows as sequences, so that `==` compares results exactly (NaN and
    * -0.0 included). */
  def canon(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon).toSeq
    case o => o
  }
}
