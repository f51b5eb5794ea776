package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}

/** Reliability posture for the engine's eager checkpoint sites (round-19
  * verdict item 7).
  *
  * The engine truncates lineage at ~80 plan seams (iterative closures,
  * shared self-join inputs, plan-size control) with `localCheckpoint()`:
  * blocks pinned in EXECUTOR storage, cheap, but NOT fault-tolerant —
  * on a real cluster, losing an executor after the checkpoint loses
  * blocks whose lineage is gone, and the job fails instead of
  * recomputing. At gate scale (one local JVM) that trade is strictly
  * right; at 100 TB it is a per-deployment decision.
  *
  * `-Dgraft.checkpoint.reliable=true` switches every such seam to a
  * RELIABLE `checkpoint()`: blocks written to the SparkContext
  * checkpoint directory (set `spark.sparkContext.setCheckpointDir` to a
  * cluster-visible path, or pass `-Dgraft.checkpoint.dir=...`; a local
  * tmp default keeps single-node runs working out of the box). Results
  * are identical either way — the knob moves WHERE the materialized
  * blocks live and whether executor loss is recoverable, never what is
  * computed. Default stays local: the bench's numbers are
  * like-for-like with previous rounds, and reliable checkpoints pay a
  * real write+read of the materialized frame.
  *
  * [[toLocal]] is the driver-held seam beside [[stable]]: the frame is
  * collected once and held as a `LocalRelation`. That spends one collect
  * instead of a checkpoint's jobs, and downstream joins broadcast it
  * without a job. It suits frames with a row bound that stays small at
  * any data scale (the storm resolver's, one row per storm or landed
  * file); [[localIfFits]] gates a frame without such a bound on Spark's
  * pre-execution size estimate. A driver-held relation is lost only with
  * the driver, which loses the whole application anyway, so
  * `graft.checkpoint.reliable` does not apply to it.
  */
object Checkpoints {
  private def reliable: Boolean =
    sys.props.get("graft.checkpoint.reliable").contains("true")

  def stable[T](df: Dataset[T]): Dataset[T] =
    if (!reliable) df.localCheckpoint()
    else {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(sys.props.getOrElse("graft.checkpoint.dir",
          new java.io.File(System.getProperty("java.io.tmpdir"),
            s"graft_reliable_ck_${ProcessHandle.current().pid()}").getPath))
      df.checkpoint()
    }

  /** `df` held on the driver ([[toLocal]]) when Spark's pre-execution
    * size estimate of it (file bytes and plan statistics, the figure its
    * broadcast planning reads) is at most
    * `spark.sql.autoBroadcastJoinThreshold`, else `df` itself,
    * unmaterialized; never held when the threshold is -1. Non-CBO
    * estimates of joins are products of their inputs, so gate a frame
    * whose top join is a semi join or none. */
  def localIfFits(df: DataFrame): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val fits = threshold >= 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    if (fits) toLocal(df) else df
  }

  /** Collect `df` once and return it as a `LocalRelation`. */
  def toLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
      df.schema)
}
