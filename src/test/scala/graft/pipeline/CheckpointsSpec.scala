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

  test("an operator built on checkpoint seams returns identical results " +
      "under the reliable posture (dedup group closure, sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    def canon = graft.ops.TextOps.dedupGroups(spark, dir)
      .collect().map(_.toSeq).toSeq
    val base = canon
    assert(withReliable(canon) == base)
  }
}
