package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, EqualTo, Expression, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, RowNumber, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.IntegerType

/** Whole-operator top-k-per-group as a custom Catalyst plan — the one
  * place the SURVEY escalation rule (§2.9: compose built-ins → custom
  * Expression → custom LogicalPlan + Strategy + SparkPlan) reaches tier
  * (c). The composed form (`row_number() over (partition by g order by
  * s) <= k`, W3/O3 in SURVEY §2.5) must shuffle EVERY row to its group's
  * partition and sort it there. This operator instead runs a bounded
  * per-group heap BEFORE the exchange (partial phase) and again after
  * (final phase) — the same two-phase shape as partial aggregation:
  *
  *   scan → TopKPerGroup(partial) → Exchange(hash by group) → TopKPerGroup(final)
  *
  * At 100 TB the partial phase caps shuffle volume at (groups × k) rows
  * per map partition instead of the full fact table, and nothing sorts —
  * heap maintenance is O(n log k) with k-row memory per group. Partial-
  * phase memory grows with distinct groups per map partition, so beyond
  * a group-count cap additional keys' rows stream through unheaped
  * (graceful degradation to the plain shuffle, not an OOM); the final
  * phase holds groups/numPartitions keys — the memory class of a hash
  * aggregate. Result rows are emitted unordered (top-k is a set); callers
  * wanting ranked output sort the ≤ groups×k survivors, which is free by
  * comparison.
  *
  * Registered via `SparkSessionExtensions.injectPlannerStrategy`
  * ([[TopK.extensions]], injected by `graft.Session.local`).
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Plans the logical node as partial → (exchange via EnsureRequirements)
  * → final.
  *
  * Spark's own InferWindowGroupLimit (an optimizer batch after the one
  * [[TopKRewriteRule]] runs in) inserts a WindowGroupLimit between the
  * Window and an already-injected TopKPerGroup — the same group limit
  * computed twice, plus a per-map-partition sort the heap never needs.
  * Dropping it is always sound: the Filter above still enforces the rank
  * bound exactly. An injected strategy runs before Spark's
  * WindowGroupLimit strategy, so planning the node as its child (the
  * `SpecialLimits` precedent) removes it from the physical plan. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case WindowGroupLimit(ps, os, _, limit, t: TopKPerGroup)
        if ps == t.groupExprs && os == t.order && limit >= t.k =>
      planLater(t) :: Nil
    case TopKPerGroup(g, o, k, child) =>
      val partial = TopKPerGroupExec(g, o, k, isFinal = false, planLater(child))
      TopKPerGroupExec(g, o, k, isFinal = true, partial) :: Nil
    case _ => Nil
  }
}

/** Optimizer rewrite: `Filter(row_number <= k)` directly above a Window
  * computing ONLY that row_number becomes the same plan with
  * [[TopKPerGroup]] injected below the Window — so the standard
  * `.withColumn("rn", row_number().over(w)).filter($"rn" <= k)` idiom
  * gets the bounded-heap shuffle shape without the caller knowing the
  * custom operator exists. The Window stays (its output, including the
  * rank column, is unchanged — recomputing row_number over ≤ k rows per
  * group is noise); only its input shrinks from the full fact table to
  * the per-partition top-k survivors.
  *
  * Guards: exactly one window expression (any second expression would
  * see truncated partitions), a non-empty order, k ≤ `maxK` (the heap
  * holds k rows per group in executor memory), and no double-rewrite.
  *
  * Compound filters rewrite too: `rn === 1 && dist <= thr` (the
  * nearest-neighbor idiom, RelationalOps.joinNearest) splits into
  * conjuncts, the rank conjunct supplies k, and the WHOLE predicate stays
  * in the Filter (re-checking `rn <= k` over ≤ k survivor rows is free,
  * and the residual conjuncts only further restrict the top-k superset —
  * so the rewrite is always sound, never answer-changing).
  */
object TopKRewriteRule extends Rule[LogicalPlan] {
  val maxK = 1000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
          ps, os, child, _))
        if os.nonEmpty && !alreadyHandled(child) =>
      val rn = alias.toAttribute
      val ks = splitConjuncts(cond).flatMap(extractK(_, rn))
      ks.reduceOption(math.min) match {
        case Some(k) if k > 0 && k <= maxK =>
          f.copy(child = w.copy(child = TopKPerGroup(ps, os, k, child)))
        case _ => f
      }
  }

  /** A TopKPerGroup already sits under this Window — possibly behind the
    * WindowGroupLimit Spark inferred from the same filter. */
  private def alreadyHandled(p: LogicalPlan): Boolean = p match {
    case _: TopKPerGroup => true
    case WindowGroupLimit(_, _, _, _, c) => alreadyHandled(c)
    case _ => false
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def extractK(cond: Expression, rn: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType))
        if a.semanticEquals(rn) => Some(k)
      case LessThan(a: Attribute, Literal(k: Int, IntegerType))
        if a.semanticEquals(rn) => Some(k - 1)
      case EqualTo(a: Attribute, Literal(k: Int, IntegerType))
        if k == 1 && a.semanticEquals(rn) => Some(1)
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute)
        if a.semanticEquals(rn) => Some(k)
      case _ => None
    }
}

/** Physical bounded-heap top-k per group. The partial phase accepts any
  * input distribution; the final phase requires clustering on the group
  * key, so EnsureRequirements inserts exactly one hash exchange between
  * the two — fed only each map partition's local top-k survivors. */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    isFinal: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (!isFinal) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val (g, o, attrs, kk) = (groupExprs, order, child.output, k)
    val fin = isFinal
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(g, attrs)
      val ord = GenerateOrdering.generate(o, attrs)
      // max-heap under `ord`: peek() is the WORST retained row, so a new
      // row enters iff it beats the worst; memory is bounded at k rows
      // per live group key.
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      // Memory backstop for the PARTIAL phase: the heap map grows with
      // DISTINCT GROUPS PER MAP PARTITION, which at high group
      // cardinality approaches the whole key space. Since the partial
      // phase is only a shuffle-volume optimization (the final phase
      // re-filters everything it receives), rows of keys beyond the cap
      // pass through unheaped instead of growing the map — graceful
      // degradation to the plain shuffle, never an OOM. The cap bounds
      // RETAINED ROWS (groups x k <= ~1M, on the order of 100 MB), so
      // small k keeps map-side reduction across very many groups while
      // large k tightens the group budget (floor of 1024 groups so the
      // heap path never disappears entirely). The final phase holds
      // groups/numPartitions keys (the memory class of a hash aggregate)
      // and must filter exactly, so it takes no cap.
      val maxGroups =
        if (fin) Int.MaxValue else math.max(1 << 10, (1 << 20) / kk)
      // rows of over-cap keys stream straight through (no buffering);
      // heap contents follow once the input is exhausted (++ is by-name)
      val streamed = iter.flatMap { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null && heaps.size() >= maxGroups) {
          Iterator.single(row)
        } else {
          if (heap == null) {
            heap = new java.util.PriorityQueue[InternalRow](kk + 1, worstFirst)
            heaps.put(key.copy(), heap) // projection reuses its buffer: copy
          }
          if (heap.size < kk) heap.add(row.copy())
          else if (ord.compare(row, heap.peek()) < 0) {
            heap.poll(); heap.add(row.copy())
          }
          Iterator.empty
        }
      }
      streamed ++
        heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Public API + extension registration. */
object TopK {

  /** The native expressions exposed as SQL functions. */
  private val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("great_circle",
      classOf[graft.functions.expressions.GreatCircleDistance].getName,
      (args: Seq[Expression]) => {
        require(args.length == 4,
          s"great_circle expects (lat1, lon1, lat2, lon2), got ${args.length} args")
        graft.functions.expressions.GreatCircleDistance(
          args(0), args(1), args(2), args(3))
      }),
    ("cosine_similarity",
      classOf[graft.functions.expressions.CosineSimilarity].getName,
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"cosine_similarity expects (a, b), got ${args.length} args")
        graft.functions.expressions.CosineSimilarity(args(0), args(1))
      }),
    ("jaro_winkler",
      classOf[graft.functions.expressions.JaroWinkler].getName,
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"jaro_winkler expects (a, b), got ${args.length} args")
        graft.functions.expressions.JaroWinkler(args(0), args(1))
      }),
    ("unicode_normalize",
      classOf[graft.functions.expressions.UnicodeNormalize].getName,
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"unicode_normalize expects (s, form), got ${args.length} args")
        // any FOLDABLE string form is accepted (constants, concat of
        // literals, ...); everything else — non-foldable, null, wrong
        // type — flows through as a sentinel form so the expression's
        // own checkInputDataTypes rejects it: a positioned
        // AnalysisException at analysis time, not a raw internal error
        val form = args(1) match {
          case e if e.foldable &&
              e.dataType == org.apache.spark.sql.types.StringType =>
            e.eval(null) match {
              case v: org.apache.spark.unsafe.types.UTF8String =>
                v.toString.toUpperCase(java.util.Locale.ROOT)
              case _ => "<null form>"
            }
          case other => s"<non-constant form: ${other.sql}>"
        }
        graft.functions.expressions.UnicodeNormalize(args(0), form,
          strip = false)
      }),
    ("strip_accents",
      classOf[graft.functions.expressions.UnicodeNormalize].getName,
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"strip_accents expects (s), got ${args.length} args")
        graft.functions.expressions.UnicodeNormalize(args(0), "NFD",
          strip = true)
      }))

  /** For `SparkSession.Builder.withExtensions` (`graft.Session.local`):
    * planner strategy + optimizer rewrite + the native expressions as SQL
    * functions (`great_circle(lat1, lon1, lat2, lon2)` in nautical miles,
    * `cosine_similarity(a, b)`). */
  val extensions: SparkSessionExtensions => Unit = { e =>
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectOptimizerRule(_ => TopKRewriteRule)
    e.injectOptimizerRule(_ => PrefixFrameRewriteRule)
    sqlFunctions.foreach { case (name, cls, builder) =>
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls, name),
        builder))
    }
  }

  /** Top `k` rows of `df` per `groupCols` group under `orderCols` (use
    * `.desc`/`.asc` Columns; a bare Column means ascending). Give the
    * order a total tie-break (unique id last) for deterministic output.
    */
  def perGroup(df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column],
      k: Int): DataFrame = {
    val o = orderCols.map(c => Shims.catalystExpression(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    Shims.ofRows(df.sparkSession,
      TopKPerGroup(groupCols.map(Shims.catalystExpression), o, k,
        Shims.analyzedPlan(df)))
  }
}
