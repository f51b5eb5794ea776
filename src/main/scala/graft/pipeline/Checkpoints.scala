package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graftshim.Shims
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
  * inputs that small. The cron cycles (`Pipelines.runBdeck`,
  * `Pipelines.runAdeckLines`, the streaming `Pipelines.runAdeckBatch`,
  * `Maintenance.archiveStale`) run their bodies under it; their plans
  * inline the cycle's timestamp, so each cycle would compile anew.
  * [[localInterpretedIfFits]] is the read-side form: a query's first run
  * over inputs that fit is run under the posture and returned
  * driver-held, so the caller's own actions on it run no job and no
  * whole-stage code; a query that repeats on the session runs lazily and
  * compiles once. The store's analyst reads (`ReferenceQueries`,
  * `StormDataset.assemble`, `SqlSurface.sql`) and `CorpusIndex.assign`
  * return through it. Running only the writes interpreted would move the
  * Janino warm-up into the reads that follow them.
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

  /** `body`, run with `spark.sql.codegen.factoryMode=NO_CODEGEN` set on
    * the session of each of `inputs` when their summed estimate [[fits]],
    * and run plainly otherwise, keeping Spark's lazy whole-stage codegen
    * path. Under the posture Spark plans no whole-stage codegen and
    * evaluates every expression interpreted; jobs started inside `body`
    * carry the setting to their tasks. Every input's session takes the
    * posture because a frame derived from frames of two sessions (a
    * streaming micro-batch joined to the store) runs on the session of its
    * left side. The caller's value is restored
    * when the last scope open on a session exits, also when `body` throws,
    * so concurrent scopes on one session nest. `body` must finish its work
    * inside the scope (return collected or driver-held results), and the
    * setting is session-wide while it lasts, so run nothing concurrently
    * on the same sessions that should keep codegen. */
  def interpretedIfFits[A](inputs: DataFrame*)(body: => A): A =
    if (codegenKept(inputs)) body else noCodegen(inputs)(body)

  /** `body` with every [[interpretedIfFits]] gate it passes running its
    * body plainly, whatever the sizes: Spark's lazy codegen path at the
    * same threshold, so broadcast planning and driver-held frames do not
    * change with the posture. For probes that time both postures. */
  def keepingCodegen[A](body: => A): A = keepCodegen.withValue(true)(body)

  private val keepCodegen = new scala.util.DynamicVariable(false)

  private def codegenKept(inputs: Seq[DataFrame]): Boolean =
    keepCodegen.value || !fits(inputs)

  private def noCodegen[A](inputs: Seq[DataFrame])(body: => A): A = {
    val confs = inputs.map(_.sparkSession.sessionState.conf).distinct
    confs.foreach(open)
    try body
    finally confs.foreach(close)
  }

  private val factoryMode = SQLConf.CODEGEN_FACTORY_MODE.key

  private def open(conf: SQLConf): Unit = openScopes.synchronized {
    val (open, before) = Option(openScopes.get(conf)).getOrElse((0,
      if (conf.contains(factoryMode)) Some(conf.getConfString(factoryMode))
      else None))
    openScopes.put(conf, (open + 1, before))
    conf.setConfString(factoryMode, "NO_CODEGEN")
  }

  private def close(conf: SQLConf): Unit = openScopes.synchronized {
    val (open, before) = openScopes.get(conf)
    if (open > 1) openScopes.put(conf, (open - 1, before))
    else {
      openScopes.remove(conf)
      before.fold(conf.unsetConf(factoryMode))(
        conf.setConfString(factoryMode, _))
    }
  }

  /** `result`, run under [[interpretedIfFits]] of `inputs` and held on the
    * driver as a `LocalRelation`, when `inputs` fit, the query has not run
    * on this session before, and `result` has at most one row per
    * `defaultSize` bytes of the threshold; otherwise `result` lazy, with
    * codegen.
    *
    * A query's first run in a session is interpreted, since compiling it
    * costs more than it saves on inputs this small. A query that repeats
    * (the same analyzed plan, literals and table paths included, whatever
    * the tables now hold) runs lazily, so its second run compiles the
    * classes and later runs reuse them from Spark's code cache, as the
    * parent's lazy path does.
    *
    * Pass the frames `result` is built from (the leaves it reads), not
    * fresh reads of them: the check costs no extra file listing. The row
    * cap bounds the rows the driver keeps, since a join's output is not
    * bounded by the size of its inputs. A result over the cap is dropped
    * once the cap is passed, and the frame comes back lazy, to be computed
    * again with codegen by the caller's action. */
  def localInterpretedIfFits(inputs: DataFrame*)(
      result: => DataFrame): DataFrame =
    if (codegenKept(inputs)) result
    else noCodegen(inputs) {
      val df = result
      if (!firstRun(df)) df
      else {
        val cap = math.min(Int.MaxValue - 1L,
          driverBytes(df.sparkSession) / math.max(1, df.schema.defaultSize))
        Shims.collectUpTo(df, cap.toInt).getOrElse(
          // a fresh plan: `df`'s physical plan was made without codegen
          Shims.ofRows(df.sparkSession, df.queryExecution.analyzed))
      }
    }

  /** Whether `df`'s query is new to its session, recording it if so. Keys
    * are semantic hashes of analyzed plans, the last [[SeenPerSession]]
    * per session. */
  private def firstRun(df: DataFrame): Boolean = {
    val key = df.queryExecution.analyzed.semanticHash()
    seen.synchronized {
      seen.computeIfAbsent(df.sparkSession, _ =>
        java.util.Collections.newSetFromMap(
          new java.util.LinkedHashMap[Integer, java.lang.Boolean] {
            override def removeEldestEntry(e: java.util.Map.Entry[Integer,
                java.lang.Boolean]): Boolean = size > SeenPerSession
          })).add(key)
    }
  }

  private val SeenPerSession = 4096

  private val seen = new java.util.WeakHashMap[SparkSession,
    java.util.Set[Integer]]()

  /** Per session conf: the [[interpretedIfFits]] scopes open on it, and
    * the caller's `factoryMode` the last of them restores. */
  private val openScopes =
    new java.util.IdentityHashMap[SQLConf, (Int, Option[String])]()

  /** Collect `df` once and return it as a `LocalRelation`. */
  def toLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
      df.schema)
}
