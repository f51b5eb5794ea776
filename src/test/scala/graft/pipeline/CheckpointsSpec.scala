package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The round-19 reliability knob for the engine's ~80 lineage-truncation
  * seams: default = localCheckpoint (executor-storage, not
  * fault-tolerant — fine on one JVM), `graft.checkpoint.reliable=true`
  * = reliable checkpoint() to the checkpoint dir. Results identical by
  * contract; only block placement and executor-loss recovery change. */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withReliable[T](body: => T): T = {
    sys.props("graft.checkpoint.reliable") = "true"
    try body finally sys.props.remove("graft.checkpoint.reliable")
  }

  test("default mode local-checkpoints; reliable mode writes a real " +
      "checkpoint; rows identical either way") {
    val df = (1 to 100).toDF("x")
    val local = Checkpoints.stable(df)
    val relRows = withReliable {
      Checkpoints.stable(df).collect().map(_.getInt(0)).sorted.toSeq
    }
    // reliable mode configured a checkpoint dir and wrote real
    // checkpoint files into it
    val ckDir = spark.sparkContext.getCheckpointDir
    assert(ckDir.isDefined)
    assert(new java.io.File(new java.net.URI(ckDir.get).getPath)
      .listFiles() != null)
    assert(relRows == local.collect().map(_.getInt(0)).sorted.toSeq)
  }

  test("localIfFits holds a frame that fits on the driver and leaves it " +
      "as it is when the broadcast threshold is -1") {
    def onDriver(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])
    val df = spark.range(100).toDF("x")
    val held = Checkpoints.localIfFits(df)
    assert(onDriver(held))
    assert(held.collect().map(_.getLong(0)).toSeq.sorted == (0L until 100L))
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      assert(Checkpoints.localIfFits(df) eq df)
    }
  }

  test("interpretedIfFits sets NO_CODEGEN only inside its scope, restores " +
      "the caller's value on a throw, and at threshold -1 runs the body " +
      "without the posture") {
    val key = "spark.sql.codegen.factoryMode"
    val conf = spark.sessionState.conf
    def mode = conf.getAllConfs.get(key)
    val before = mode
    val small = spark.range(10).toDF("x")
    assert(Checkpoints.interpretedIfFits(small)(mode).contains("NO_CODEGEN"))
    assert(mode == before)
    TestSpark.withConf(key, "CODEGEN_ONLY") {
      intercept[IllegalStateException] {
        Checkpoints.interpretedIfFits(small)(throw new IllegalStateException)
      }
      assert(mode.contains("CODEGEN_ONLY"))
    }
    assert(mode == before)
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      assert(Checkpoints.interpretedIfFits(small)(mode).isEmpty)
    }
  }

  test("interpretedIfFits takes the posture on the session of every input, " +
      "and keepingCodegen keeps the codegen side") {
    val other = spark.newSession()
    def modes = Seq(spark, other).map(
      _.sessionState.conf.getAllConfs.get("spark.sql.codegen.factoryMode"))
    val before = modes
    val small = Seq(spark.range(10).toDF("x"), other.range(10).toDF("x"))
    assert(Checkpoints.interpretedIfFits(small: _*)(modes) ==
      Seq(Some("NO_CODEGEN"), Some("NO_CODEGEN")))
    assert(modes == before)
    assert(Checkpoints.keepingCodegen(
      Checkpoints.interpretedIfFits(small: _*)(modes)) == before)
  }

  test("collectUpTo holds a multi-partition result of exactly cap rows and " +
      "returns None for one row more") {
    val df = spark.range(0, 100, 1, 8).toDF("x")
    val held = org.apache.spark.sql.graftshim.Shims.collectUpTo(df, 100)
    assert(held.exists(_.collect().map(_.getLong(0)).toSeq == (0L until 100L)))
    assert(org.apache.spark.sql.graftshim.Shims.collectUpTo(df, 99).isEmpty)
  }

  test("concurrent interpretedIfFits scopes on one session nest: the " +
      "first to exit leaves the posture to the other, the last restores") {
    import java.util.concurrent.CountDownLatch
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def mode = spark.sessionState.conf.getAllConfs.get("spark.sql.codegen.factoryMode")
    val before = mode
    val small = spark.range(10).toDF("x")
    val (opened, release) = (new CountDownLatch(1), new CountDownLatch(1))
    val outer = Future(Checkpoints.interpretedIfFits(small) {
      opened.countDown(); release.await()
    })
    opened.await()
    val inner = Checkpoints.interpretedIfFits(small) {
      release.countDown()
      Await.result(outer, 1.minute) // the outer scope exits first
      mode
    }
    assert(inner.contains("NO_CODEGEN"))
    assert(mode == before)
  }

  test("an operator built on checkpoint seams returns identical results " +
      "under the reliable posture (dedup group closure, sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    def canon = graft.ops.TextOps.dedupGroups(spark, dir)
      .collect().map(_.toSeq).toSeq
    val base = canon
    assert(withReliable(canon) == base)
  }
}
