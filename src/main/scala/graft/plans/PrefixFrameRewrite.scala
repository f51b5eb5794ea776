package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, First, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, HintInfo, Join, JoinHint, LogicalPlan, Project, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rewrite: a trailing sliding RANGE frame computing ONLY
  * subtractable aggregates (count, integral/decimal sum, decimal avg)
  * becomes the
  * PREFIX-DIFFERENCE shape — so `spark.sql` text written with the
  * standard `RANGE BETWEEN n PRECEDING AND CURRENT ROW` idiom gets the
  * O(n) plan without knowing [[graft.ops.OlapOps
  * .windowRangeFramePrefixEvents]] exists (the TopKRewriteRule
  * precedent, asked for by the round-17 verdict).
  *
  * Why: Spark's `SlidingWindowFunctionFrame` does not retract — a
  * bounded RANGE frame costs O(Σ frame sizes), measured 4.90× under the
  * 32× dense mega-user (246× frame-mass concentration). Count/sum are
  * subtractable, so frame(t) = prefix(≤ t) − prefix(≤ t−L−1) for an
  * integral order key, and running prefixes are incremental in Spark.
  *
  * The rewritten plan (attribute-exact: every original output ExprId is
  * preserved, so parents never notice):
  *
  *   Window(row_number rn) — LOCAL within (part, ord-chunk) when
  *   chunking is on (a global per-part rn would itself sort a mega
  *   part in one task; the identity triple (part, chunk, local rn) is
  *   unique without any per-part global pass), global otherwise
  *   ├─ real leg:   at = ord,      probe = 0
  *   └─ probe legs: at = ord−Lj−1, probe = j   (one per DISTINCT
  *      lookback Lj in the node — round 19 lifted the single-lookback
  *      restriction; each aggregate subtracts its own probe's prefix)
  *   Union → chunk = at DIV W (round 19) → Window over (part, chunk)
  *   ORDER BY (at, probe) with the DEFAULT incremental frame:
  *   per-aggregate running prefixes (probe rows contribute nothing;
  *   tie-inclusive peer semantics give RANGE's inclusive edges; probes
  *   sort after reals so an exclusion-boundary tie lands inside the
  *   probe's prefix)
  *   Aggregate by (part, chunk) → running prior-chunk offsets per part
  *   (a window over the tiny chunk relation) → broadcast-joined back,
  *   so global prefix = local prefix + chunk offset — the same stitch
  *   as the DataFrame form, now synthesized in the logical plan: a
  *   mega partition key's sort spreads over span/W tasks instead of one
  *   (round-18 residual: the unchunked rewrite was work-optimal but
  *   still single-task under a mega key, probed 1.13-1.43× at the 32×
  *   mega-user vs the DataFrame form's 0.56-0.63×)
  *   Aggregate by (part, rn): result = prefix[real] − prefix[probe_j];
  *   sums reproduce SQL NULL via a non-null-count prefix pair.
  *
  * Soundness guards (bail out — keep the plain frame — otherwise):
  *  - single ASCENDING order key of integral type (the −1 gap argument
  *    needs integers; DESC or multi-key frames keep Spark semantics);
  *  - the child's constraints must PROVE the order key non-null: null
  *    order values form a peer group whose frame is the whole group,
  *    which the prefix difference does not reproduce. A query that
  *    filters `ord IS NOT NULL` (or derives ord from a non-null
  *    column) gets the rewrite; anything else is left alone rather
  *    than silently wrong;
  *  - every window expression in the node is a sliding count, a sum of
  *    an integral or decimal column, or an avg of a DECIMAL column,
  *    with a constant negative lower bound and CURRENT ROW upper
  *    (double sums/avgs are NOT rewritten: a prefix difference
  *    reorders float arithmetic — not bit-identical; decimal avg IS,
  *    because its finish formula is reused verbatim with exact diffs
  *    substituted for the buffer attributes);
  *  - aggregates only — no distinct, no filter clauses.
  *
  * Chunking notes: the chunk id is `at DIV W` — integer division
  * truncates toward zero, which is still MONOTONE in `at`, and
  * monotone is all the stitch needs (rows tied on `at` always share a
  * chunk, so peer semantics survive; the near-zero buckets are merely
  * up to 2W−1 wide). W = (max lookback + 1) × `graft.prefixFrame
  * .chunkFactor` (default 24 — the DataFrame form's lookback:chunk
  * ratio). If W would overflow a long, chunking is skipped (the
  * unchunked rewrite is still work-optimal). Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.PrefixFrameRewriteRule`
  * turns the rule off for a session (the reference side of its specs and
  * plan dumps); `-Dgraft.prefixFrame.chunk=false` keeps the round-18
  * unchunked shape (the probe baseline).
  *
  * Output ROW ORDER within a partition differs (an Aggregate replaces
  * the Window); SQL guarantees none without ORDER BY, and the
  * differential gates all sort.
  */
object PrefixFrameRewriteRule extends Rule[LogicalPlan] {

  private def chunkEnabled: Boolean =
    !sys.props.get("graft.prefixFrame.chunk").contains("false")

  private def chunkFactor: Long =
    sys.props.get("graft.prefixFrame.chunkFactor")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(_ >= 1L).getOrElse(24L)

  /** The sliding lower bound, as a non-negative lookback L, if this
    * window spec is `RANGE BETWEEN L PRECEDING AND CURRENT ROW`. */
  private def lookbackOf(spec: WindowSpecDefinition): Option[Long] =
    spec.frameSpecification match {
      case SpecifiedWindowFrame(RangeFrame, Literal(v: Int, IntegerType),
        CurrentRow) if v < 0 => Some(-v.toLong)
      case SpecifiedWindowFrame(RangeFrame, Literal(v: Long, LongType),
        CurrentRow) if v < 0 => Some(-v)
      case _ => None
    }

  private def integral(dt: DataType): Boolean = dt match {
    case IntegerType | LongType => true
    case _ => false
  }

  private def summable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType => true
    case _: DecimalType => true
    case _ => false
  }

  /** One rewritable window expression: its alias, the aggregate, and
    * its lookback. */
  private case class Sliding(alias: Alias, agg: AggregateFunction,
      lookback: Long)

  private def slidingOf(ps: Seq[Expression], os: Seq[SortOrder],
      ne: NamedExpression): Option[Sliding] = ne match {
    case a @ Alias(WindowExpression(
        AggregateExpression(f, Complete, false, None, _), spec), _)
        if spec.partitionSpec == ps && spec.orderSpec == os =>
      lookbackOf(spec).flatMap { l =>
        f match {
          case Sum(e, _) if summable(e.dataType) => Some(Sliding(a, f, l))
          case c: Count if c.children.size <= 1 => Some(Sliding(a, f, l))
          // avg only over DECIMAL input: its buffer sum is then exact
          // decimal (an integral/double input averages through a DOUBLE
          // buffer, whose incremental rounding a prefix difference does
          // not replay bit-for-bit)
          case Average(e, _) if e.dataType.isInstanceOf[DecimalType] =>
            Some(Sliding(a, f, l))
          case _ => None
        }
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case w @ Window(we, ps, Seq(so @ SortOrder(ord, Ascending, _, _)),
          child, _)
          if we.nonEmpty && integral(ord.dataType) &&
            (!ord.nullable || child.constraints.exists {
              case IsNotNull(e) => e.semanticEquals(ord)
              case _ => false
            }) =>
        val sl = we.map(slidingOf(ps, Seq(so), _))
        if (sl.exists(_.isEmpty)) w
        else rewrite(w, ps, so, ord, child, sl.flatten)
    }
  }

  private def rewrite(orig: Window, ps: Seq[Expression], so: SortOrder,
      ord: Expression, child: LogicalPlan,
      slidings: Seq[Sliding]): LogicalPlan = {
    val co = child.output
    val ordType = ord.dataType

    // distinct lookbacks, each with a probe tag 1..k (round 19: one
    // probe LEG per distinct lookback instead of bailing on mixed ones)
    val lookbacks: Seq[Long] = slidings.map(_.lookback).distinct.sorted
    val probeIdx: Map[Long, Int] =
      lookbacks.zipWithIndex.map { case (l, i) => l -> (i + 1) }.toMap

    // chunk width from the LARGEST lookback; overflow-checked — a
    // pathological lookback near Long.Max just loses chunking, never
    // correctness
    val width: Option[Long] = {
      val maxL = lookbacks.max
      if (chunkEnabled && maxL < (Long.MaxValue - 1) / chunkFactor - 1)
        Some((maxL + 1) * chunkFactor)
      else None
    }

    // 1. row identity — the key that re-merges each row's tagged
    // siblings in the closing aggregate. Unchunked: a global per-part
    // row_number within the SAME (part, ord) sort the plain frame pays.
    // Chunked: that global row_number would itself sort a mega part in
    // ONE task (the round-18 residual's actual bottleneck), so identity
    // becomes the triple (part, ord-chunk, LOCAL row_number within the
    // chunk) — unique without any per-part global pass, and both legs
    // read it from the same node so tie order is shared by construction.
    val rowFrame =
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
    val (winRn, idKeys): (Window, Seq[Attribute]) = width match {
      case Some(w) =>
        val idcAlias = Alias(
          IntegralDivide(Cast(ord, LongType), Literal(w)), "__pfx_idc")()
        val proj0 = Project(co :+ idcAlias, child)
        val idc = idcAlias.toAttribute
        val rnAlias = Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(ps :+ idc, Seq(so), rowFrame)), "__pfx_rn")()
        (Window(Seq(rnAlias), ps :+ idc, Seq(so), proj0),
          Seq(idc, rnAlias.toAttribute))
      case None =>
        val rnAlias = Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(ps, Seq(so), rowFrame)), "__pfx_rn")()
        (Window(Seq(rnAlias), ps, Seq(so), child), Seq(rnAlias.toAttribute))
    }

    // 2. tagged legs; probe j sits one unit left of lookback j's
    // inclusive frame edge, so its prefix sees exactly "ord <= t - Lj - 1"
    val atReal = Alias(ord, "__pfx_at")()
    val probeReal = Alias(Literal(0), "__pfx_probe")()
    val realLeg = Project(co ++ idKeys ++ Seq(atReal, probeReal), winRn)
    val probeLegs = lookbacks.map { l =>
      Project(
        co.map(a => Alias(a, a.name)()) ++
          idKeys.map(a => Alias(a, a.name)()) ++ Seq(
          Alias(Subtract(ord, Cast(Literal(l + 1L), ordType)),
            "__pfx_at")(),
          Alias(Literal(probeIdx(l)), "__pfx_probe")()),
        winRn)
    }
    val union = Union(realLeg +: probeLegs)
    val Seq(at, probe) = realLeg.output.takeRight(2)
    val isReal = EqualTo(probe, Literal(0))

    // per-aggregate prefix CONTRIBUTIONS (probe rows contribute nothing),
    // shared verbatim by the local prefix window and the chunk totals
    case class Contrib(s: Sliding, v: Expression, nn: Option[Expression])
    val contribs: Seq[Contrib] = slidings.map { s =>
      s.agg match {
        case Sum(e, _) =>
          Contrib(s, If(isReal, e, Literal(null, e.dataType)),
            Some(If(And(isReal, IsNotNull(e)), Literal(1L), Literal(0L))))
        case Average(e, _) => // decimal-gated in slidingOf
          Contrib(s, If(isReal, e, Literal(null, e.dataType)),
            Some(If(And(isReal, IsNotNull(e)), Literal(1L), Literal(0L))))
        case Count(Seq(e)) if e.nullable =>
          Contrib(s, If(And(isReal, IsNotNull(e)), Literal(1L),
            Literal(0L)), None)
        case _: Count => // count(non-null col) / count() / count(*)
          Contrib(s, If(isReal, Literal(1L), Literal(0L)), None)
      }
    }

    // 3. running LOCAL prefixes over (part[, chunk]) ORDER BY (at, probe)
    // — the DEFAULT incremental frame
    val (prefixInput, partKeys): (LogicalPlan, Seq[Expression]) =
      width match {
        case Some(w) =>
          val chunkAlias = Alias(
            IntegralDivide(Cast(at, LongType), Literal(w)), "__pfx_chunk")()
          (Project(realLeg.output :+ chunkAlias, union),
            ps :+ chunkAlias.toAttribute)
        case None => (union, ps)
      }
    val chunkAttrOpt: Option[Attribute] =
      if (width.isDefined) Some(prefixInput.output.last) else None

    val pfxSpec = WindowSpecDefinition(partKeys,
      Seq(SortOrder(at, Ascending), SortOrder(probe, Ascending)),
      SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow))
    def running(contrib: Expression, name: String): Alias =
      Alias(WindowExpression(
        Sum(contrib).toAggregateExpression(), pfxSpec), name)()
    val prefixes: Seq[(Contrib, Alias, Option[Alias])] =
      contribs.zipWithIndex.map { case (c, i) =>
        (c, running(c.v, s"__pfx_v$i"),
          c.nn.map(nn => running(nn, s"__pfx_n$i")))
      }
    val win2 = Window(prefixes.flatMap(p => p._2 +: p._3.toSeq),
      partKeys, Seq(SortOrder(at, Ascending), SortOrder(probe, Ascending)),
      prefixInput)

    // 3b. (chunked only) per-(part, chunk) totals → running PRIOR-chunk
    // offsets per part over the tiny chunk relation → broadcast-joined
    // back on (part <=> , chunk =): global prefix = local + offset. The
    // offsets are built over the union's OWN key set, so a probe chunk
    // with no real rows still finds its offset. Null-safe part keys: a
    // null partition value is a real window partition.
    val (diffInput, globalOf):
        (LogicalPlan, ((Contrib, Alias, Option[Alias])) =>
          (Expression, Option[Expression])) = chunkAttrOpt match {
      case None =>
        (win2, p => (p._2.toAttribute, p._3.map(_.toAttribute)))
      case Some(chunkAttr) =>
        val psKeys = ps.zipWithIndex.map { case (p, i) =>
          Alias(p, s"__pfx_p$i")()
        }
        val chunkKey = Alias(chunkAttr, "__pfx_ochunk")()
        val totals: Seq[(Contrib, Alias, Option[Alias])] =
          contribs.zipWithIndex.map { case (c, i) =>
            (c, Alias(Sum(c.v).toAggregateExpression(), s"__pfx_tv$i")(),
              c.nn.map(nn =>
                Alias(Sum(nn).toAggregateExpression(), s"__pfx_tn$i")()))
          }
        val agg = Aggregate(ps :+ chunkAttr,
          (psKeys :+ chunkKey) ++ totals.flatMap(t => t._2 +: t._3.toSeq),
          prefixInput)
        val offSpec = WindowSpecDefinition(psKeys.map(_.toAttribute),
          Seq(SortOrder(chunkKey.toAttribute, Ascending)),
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, Literal(-1)))
        val offsets: Seq[(Contrib, Alias, Option[Alias])] =
          totals.zipWithIndex.map { case ((c, tv, tn), i) =>
            (c, Alias(WindowExpression(
              Sum(tv.toAttribute).toAggregateExpression(), offSpec),
              s"__pfx_ov$i")(),
              tn.map(a => Alias(WindowExpression(
                Sum(a.toAttribute).toAggregateExpression(), offSpec),
                s"__pfx_on$i")()))
          }
        val win3 = Window(offsets.flatMap(o => o._2 +: o._3.toSeq),
          psKeys.map(_.toAttribute),
          Seq(SortOrder(chunkKey.toAttribute, Ascending)), agg)
        val offsProj = Project(
          (psKeys.map(_.toAttribute) :+ chunkKey.toAttribute) ++
            offsets.flatMap(o => o._2.toAttribute +:
              o._3.map(_.toAttribute).toSeq), win3)
        val cond = (ps.zip(psKeys).map { case (p, k) =>
          EqualNullSafe(p, k.toAttribute): Expression
        } :+ (EqualTo(chunkAttr, chunkKey.toAttribute): Expression))
          .reduce(And)
        // the offsets relation is one row per (part, chunk) — bounded by
        // the key×chunk set, never corpus rows; hint it broadcast so the
        // corpus side is not re-shuffled for the stitch
        val joined = Join(win2, offsProj, Inner, Some(cond),
          JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
        def zero(dt: DataType): Expression = Cast(Literal(0), dt)
        val offOf: Map[ExprId, (Alias, Option[Alias])] =
          totals.map(_._1).zip(offsets).map { case (c, o) =>
            c.s.alias.exprId -> (o._2, o._3)
          }.toMap
        (joined, { p =>
          val (c, v, nOpt) = p
          val (ov, onOpt) = offOf(c.s.alias.exprId)
          val l = v.toAttribute
          val o = ov.toAttribute
          val g: Expression = c.nn match {
            // count-like: local prefix is non-null by construction,
            // offset null only before the first chunk
            case None => Add(l, Coalesce(Seq(o, Literal(0L))))
            // value sums: either side may be all-null; NULL semantics
            // are reproduced downstream via the non-null-count pair
            case Some(_) => Add(Coalesce(Seq(l, zero(l.dataType))),
              Coalesce(Seq(o, zero(o.dataType))))
          }
          val gn = nOpt.map { n =>
            Add(n.toAttribute,
              Coalesce(Seq(onOpt.get.toAttribute, Literal(0L))))
          }
          (g, gn)
        })
    }

    // 4. close the difference per original row: +global-prefix on the
    // real row, − on the aggregate's OWN probe, nothing on other
    // probes. Conditional negation (never multiply — a wide-decimal
    // product would overflow the 38-digit cap); sums reproduce the
    // all-null frame's NULL via the non-null-count pair.
    def signedSum(g: Expression, own: Int): Expression = {
      val signed = If(isReal, g,
        If(EqualTo(probe, Literal(own)), UnaryMinus(g),
          Literal(null, g.dataType)))
      Sum(signed).toAggregateExpression()
    }
    val keep: Seq[NamedExpression] = co.map { a =>
      Alias(First(a, ignoreNulls = false).toAggregateExpression(),
        a.name)(exprId = a.exprId)
    }
    val results: Seq[NamedExpression] = prefixes.map { p =>
      val (c, _, _) = p
      val (g, gnOpt) = globalOf(p)
      val own = probeIdx(c.s.lookback)
      val raw = signedSum(g, own)
      val typed: Expression = c.s.agg match {
        case Sum(_, _) =>
          val diff = Cast(raw, c.s.alias.child.dataType)
          gnOpt match {
            case Some(gn) =>
              val cnt = signedSum(gn, own)
              If(GreaterThan(cnt, Literal(0L)), diff,
                Literal(null, c.s.alias.child.dataType))
            case None => diff
          }
        case _: Count => Cast(raw, LongType)
        case avg @ Average(_, _) =>
          // reuse Spark's OWN finish formula with the exact diffs
          // substituted for its buffer attributes — bit-identity (incl.
          // the empty/all-null -> NULL path and decimal division
          // precision) by construction, not by reimplementation
          val sumDiff = Cast(raw, avg.sum.dataType)
          val cntDiff = signedSum(gnOpt.get, own)
          avg.evaluateExpression.transform {
            case a: AttributeReference if a.semanticEquals(avg.sum) =>
              sumDiff
            case a: AttributeReference if a.semanticEquals(avg.count) =>
              cntDiff
          }
      }
      Alias(typed, c.s.alias.name)(exprId = c.s.alias.exprId)
    }
    Aggregate(ps ++ idKeys, keep ++ results, diffInput)
  }
}
