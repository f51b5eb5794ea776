package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.internal.SQLConf

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
  *
  * [[interpretedIfFits]] is the matching posture for code generation: a
  * body whose inputs fit the same threshold runs without Janino, since
  * compiling its plans costs more CPU than the compiled code saves on
  * inputs that small.
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

  /** `spark.sql.autoBroadcastJoinThreshold`: the bytes up to which a
    * frame is held on the driver or run interpreted here, and up to which
    * [[graft.dedup.Dedup.propagateMinLabels]] runs its closure on the
    * driver; -1 turns all of them off. */
  def driverBytes(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Whether the summed pre-execution size estimates of `frames` (file
    * bytes and plan statistics, the figure broadcast planning reads) are
    * at most `spark.sql.autoBroadcastJoinThreshold`; never when the
    * threshold is -1. Non-CBO estimates of joins are products of their
    * inputs, so pass leaves, or frames whose top join is a semi join. */
  private def fits(frames: Seq[DataFrame]): Boolean = {
    val threshold = driverBytes(frames.head.sparkSession)
    threshold >= 0 &&
      frames.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <=
        threshold
  }

  /** `df` held on the driver ([[toLocal]]) when its estimate [[fits]],
    * else `df` itself, unmaterialized. */
  def localIfFits(df: DataFrame): DataFrame =
    if (fits(Seq(df))) toLocal(df) else df

  /** `Some(body)`, run with `spark.sql.codegen.factoryMode=NO_CODEGEN`
    * set on the session of `inputs`, when their summed estimate [[fits]];
    * else `None`, and `body` does not run, so the caller keeps Spark's
    * lazy whole-stage codegen path. Under the posture Spark plans no
    * whole-stage codegen and evaluates every expression interpreted;
    * jobs started inside `body` carry the setting to their tasks. The
    * caller's value is restored when the last scope open on the session
    * exits, also when `body` throws, so concurrent scopes on one session
    * nest. `body` must finish its work inside the scope (return collected
    * or driver-held results), and the setting is session-wide while it
    * lasts, so run nothing concurrently on the same session that should
    * keep codegen. */
  def interpretedIfFits[A](inputs: DataFrame*)(body: => A): Option[A] =
    if (!fits(inputs)) None
    else {
      val conf = inputs.head.sparkSession.sessionState.conf
      val key = SQLConf.CODEGEN_FACTORY_MODE.key
      openScopes.synchronized {
        val (open, before) = Option(openScopes.get(conf)).getOrElse(
          (0, if (conf.contains(key)) Some(conf.getConfString(key)) else None))
        openScopes.put(conf, (open + 1, before))
        conf.setConfString(key, "NO_CODEGEN")
      }
      try Some(body)
      finally openScopes.synchronized {
        val (open, before) = openScopes.get(conf)
        if (open > 1) openScopes.put(conf, (open - 1, before))
        else {
          openScopes.remove(conf)
          before.fold(conf.unsetConf(key))(conf.setConfString(key, _))
        }
      }
    }

  /** Per session conf: the [[interpretedIfFits]] scopes open on it, and
    * the caller's `factoryMode` the last of them restores. */
  private val openScopes =
    new java.util.IdentityHashMap[SQLConf, (Int, Option[String])]()

  /** Collect `df` once and return it as a `LocalRelation`. */
  def toLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
      df.schema)
}
