package graft.graph

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, TestSpark}

/** Every case runs twice: at the default broadcast threshold, where these
  * small edge lists close on the driver, and at -1, where they close as
  * checkpointed Spark sweeps; the expectations are the same. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def onBothSides(body: => Unit): Unit = {
    body
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)
  }

  test("chain and star collapse to their min id; components stay apart") {
    // chain 1-2-3-4-5-6 (diameter 5 — needs several sweeps), star
    // 10-{11,12,13}, disjoint pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L)).toDF("a", "b")
    onBothSides {
      val got = ConnectedComponents.run(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      (1L to 6L).foreach(i => assert(got(i) == 1L, s"node $i"))
      Seq(10L, 11L, 12L, 13L).foreach(i => assert(got(i) == 10L))
      Seq(20L, 21L).foreach(i => assert(got(i) == 20L))
      assert(got.size == 12) // every endpoint, nothing else
    }
  }

  test("fails loudly when the sweep budget can't cover the diameter") {
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    onBothSides {
      intercept[IllegalArgumentException] {
        ConnectedComponents.run(chain, maxIter = 3)
      }
      // with budget, the same chain collapses to one component
      val ok = ConnectedComponents.run(chain, maxIter = 40).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(ok.forall(_._2 == 1L) && ok.length == 30)
    }
  }

  test("maxIter=1 accepts a graph that converged in sweep 1") {
    onBothSides {
      // a single edge reaches its fixed point in one sweep; the budget-
      // exhausted final probe must recognize that instead of rejecting
      // every maxIter=1 call as unknown
      val got = ConnectedComponents.run(Seq((1L, 2L)).toDF("a", "b"),
        maxIter = 1).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L))
      // whereas a 3-chain genuinely needs a second sweep
      intercept[IllegalArgumentException] {
        ConnectedComponents.run(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"),
          maxIter = 1)
      }
    }
  }

  test("empty edge frame yields an empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    onBothSides(assert(ConnectedComponents.run(empty).count() == 0))
  }

  test("a small closure on the driver runs fewer jobs than its sweeps") {
    // the 6-chain needs 5 sweeps plus the fixed-point sweep: as Spark
    // jobs that is a checkpoint and a probe each. On the driver the
    // bounded collect of the edges is the one job; the driver-held labels
    // collect without one.
    val chain = spark.range(1, 6).select($"id".as("a"), ($"id" + 1).as("b"))
    def jobs() = JobCount(spark)(ConnectedComponents.run(chain).collect())._2
    val onDriver = jobs()
    val onSpark = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(jobs())
    assert(onDriver == 1 && onDriver < onSpark,
      s"$onDriver jobs on the driver, $onSpark as Spark sweeps")
  }
}
