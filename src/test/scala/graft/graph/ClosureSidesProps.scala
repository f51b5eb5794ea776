package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.{Gen, Prop, Properties}

import graft.TestSpark
import graft.dedup.Dedup

/** The two sides of the min-label closure, pitted against each other on
  * random graphs: the driver side (edge lists within the broadcast
  * threshold) and the checkpointed Spark sweeps (threshold -1) must give
  * the same labels, schema and converged flag, non-converged labelings
  * included. */
object ClosureSidesProps extends Properties("closureSides") {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // each case runs up to a dozen Spark jobs on the Spark side
  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(15)

  /** Random multigraph (self-loops and repeated edges allowed) over up to
    * 40 distinct ids, a sweep budget, and the id type: `long` or `int`,
    * nullable or not. */
  private val graph = for {
    long <- Gen.oneOf(true, false)
    ids <- Gen.listOfN(40, if (long) Gen.choose(Long.MinValue, Long.MaxValue)
      else Gen.choose(Int.MinValue, Int.MaxValue).map(_.toLong))
    nodes = ids.distinct.toVector
    n <- Gen.choose(1, nodes.length)
    m <- Gen.choose(0, 2 * n)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    maxIter <- Gen.choose(1, 6)
    nullable <- Gen.oneOf(true, false)
  } yield (edges.map { case (a, b) => (nodes(a), nodes(b)) }, maxIter, long,
    nullable)

  private def frame(edges: Seq[(Long, Long)], long: Boolean,
      nullable: Boolean): DataFrame = {
    val df = (long, nullable) match {
      case (true, false) => edges.toDF("a", "b")
      case (true, true) =>
        edges.map { case (a, b) => (Option(a), Option(b)) }.toDF("a", "b")
      case (false, false) =>
        edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b")
      case (false, true) => edges
        .map { case (a, b) => (Option(a.toInt), Option(b.toInt)) }
        .toDF("a", "b")
    }
    df.repartition(3)
  }

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  /** (held on the driver, schema, sorted rows, converged) */
  private def close(edges: DataFrame, maxIter: Int) = {
    val (labels, converged) = Dedup.propagateMinLabels(edges, maxIter)
    (onDriver(labels), labels.schema,
      labels.collect().map(_.toString).sorted.toSeq, converged)
  }

  private def onSpark[T](body: => T): T =
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  property("driver side == Spark sweeps, converged or not") =
    Prop.forAll(graph) { case (edges, maxIter, long, nullable) =>
      val df = frame(edges, long, nullable)
      val (held, schema, rows, converged) = close(df, maxIter)
      val (sparkHeld, sparkSchema, sparkRows, sparkConverged) =
        onSpark(close(df, maxIter))
      // an empty edge list is answered by the first collect on both sides
      held && sparkHeld == edges.isEmpty && schema == sparkSchema &&
        rows == sparkRows && converged == sparkConverged
    }

  property("string ids and null ids close as Spark sweeps") =
    Prop.forAll(graph.suchThat(_._1.nonEmpty)) {
      case (edges, maxIter, _, _) =>
        val strings = edges.map { case (a, b) => (a.toString, b.toString) }
          .toDF("a", "b")
        val withNull = edges.map { case (a, b) => (Option(a), Option(b)) }
          .:+((Option(edges.head._1), Option.empty[Long])).toDF("a", "b")
        !close(strings, maxIter)._1 && !close(withNull, maxIter)._1
    }
}
