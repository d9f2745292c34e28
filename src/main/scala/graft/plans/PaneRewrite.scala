package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrites a native sliding-`window()` aggregation — which
  * Spark plans as an Expand of size/slide projections per input row followed
  * by one Aggregate — into a pane-based two-level form (LightSaber's pane
  * slicing as a logical rewrite; `TimeWindows.aggregatePaned` merges its
  * panes through a per-key ring instead of this Generate):
  *
  *   Aggregate(window, keys, Expand(n projections, child))
  *     ⇒ Aggregate(ws, keys, merge-aggs,
  *         Generate(explode(sequence(pane − (n−1)·slide, pane)),
  *           Aggregate(pane, keys, partial-aggs, child)))
  *
  * so raw rows reduce to |panes × keys| partials before the n-fold window
  * expansion. Applies only when it is provably safe:
  *   - n == ceil(size/slide) ≥ minExpansion (default 2 — the pane trick is
  *     valid at any ratio, mirroring the reference WindowDefinition.h:46;
  *     even at n = 2 the level-1 pane partials shuffle at most |rows| rows
  *     where the native Expand plan shuffles n·|rows|, so the worst case —
  *     no rows-per-pane reduction — costs one extra small exchange while
  *     the common case removes the n-fold pre-shuffle expansion entirely);
  *   - every Expand projection is identical except the window struct;
  *   - aggregates are non-distinct, unfiltered COUNT/SUM/MIN/MAX/AVG
  *     (AVG decomposes into Σdouble-sums / Σcounts);
  *   - SUM/AVG are non-decimal (decimal SUM changes precision when nested).
  *
  * The pane expression is the matched plan's own window-0 start-µs subtree,
  * reused verbatim — origin/timezone handling comes along for free.
  * COUNT/MIN/MAX and integral SUM are bit-identical to the unrewritten plan;
  * floating-point SUM re-associates (per-pane partials merge), the same
  * last-ulp nondeterminism any change of partitioning already implies.
  */
case class PaneRewrite(minExpansion: Int = 2) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if applicable(agg).isDefined =>
      val m = applicable(agg).get
      rewrite(agg, m.expand, m)
  }

  /** (windowAttr, windowIdx, startLongExpr, slideUs, sizeUs, paneUs, expand). */
  private case class Match(
      windowAttr: Attribute,
      windowIdx: Int,
      startLong: Expression,
      slideUs: Long,
      sizeUs: Long,
      paneUs: Long,
      expand: Expand)

  @annotation.tailrec
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The filter TimeWindowing inserts above Expand when slide ∤ size
    * (`ts >= window.start && ts < window.end` plus isnotnull guards) drops
    * the over-generated (row, window) pairs from the ceil(size/slide)-fold
    * expansion. The pane rewrite only ever generates truly-containing
    * windows, so this exact filter — and nothing else — may be subsumed.
    */
  private def isValidityFilter(
      cond: Expression, winAttr: Attribute, timeCol: Expression): Boolean =
    conjuncts(cond).forall {
      case n: IsNotNull => n.references.subsetOf(AttributeSet(Seq(winAttr)))
      case GreaterThanOrEqual(t, g: GetStructField)
          if g.ordinal == 0 && g.child.references.subsetOf(AttributeSet(Seq(winAttr))) =>
        t.semanticEquals(timeCol)
      case LessThan(t, g: GetStructField)
          if g.ordinal == 1 && g.child.references.subsetOf(AttributeSet(Seq(winAttr))) =>
        t.semanticEquals(timeCol)
      case _ => false
    }

  private def applicable(agg: Aggregate): Option[Match] = {
    // unwrap the child: a bare Expand (slide | size), or — for slide ∤ size —
    // Expand under TimeWindowing's validity Filter and an optional
    // column-pruning Project (attributes only)
    val (expand, validityCond) = agg.child match {
      case e: Expand => (e, None)
      case Project(pl, Filter(cond, e: Expand)) if pl.forall(_.isInstanceOf[Attribute]) =>
        (e, Some(cond))
      case Filter(cond, e: Expand) => (e, Some(cond))
      case Project(pl, e: Expand) if pl.forall(_.isInstanceOf[Attribute]) => (e, None)
      case _ => return None
    }
    val n = expand.projections.length
    if (n < minExpansion) return None

    // locate the window struct attribute in the Expand output
    val winIdx = expand.output.indexWhere { a =>
      a.dataType match {
        case StructType(fs) =>
          fs.length == 2 && fs(0).name == "start" && fs(1).name == "end" &&
            fs.forall(_.dataType == TimestampType)
        case _ => false
      }
    }
    if (winIdx < 0) return None
    val winAttr = expand.output(winIdx)

    // grouping must be window attr + plain attributes; window attr used once
    val groupAttrsOk = agg.groupingExpressions.forall {
      case _: Attribute => true
      case _ => false
    } && agg.groupingExpressions.exists {
      case a: Attribute => a.exprId == winAttr.exprId
      case _ => false
    }
    if (!groupAttrsOk) return None

    // all projections identical except the window column
    val nonWindowStable = expand.projections.forall { p =>
      p.zipWithIndex.forall { case (e, i) =>
        i == winIdx || e.semanticEquals(expand.projections.head(i))
      }
    }
    if (!nonWindowStable) return None

    // parse window-0: start = PTC(startLong), end = PTC(startLong + size)
    def ptcChild(e: Expression): Option[Expression] = {
      val found = e.collectFirst {
        case p: PreciseTimestampConversion if p.toType == TimestampType => p.child
      }
      found
    }
    val struct0 = expand.projections.head(winIdx).collectFirst {
      case c: CreateNamedStruct => c
    }.getOrElse(return None)
    val startLong = ptcChild(struct0.valExprs(0)).getOrElse(return None)
    val endLong = ptcChild(struct0.valExprs(1)).getOrElse(return None)
    val sizeUs = endLong match {
      case Add(s, Literal(v: Long, LongType), _) if s.semanticEquals(startLong) => v
      case _ => return None
    }
    val slideUs = startLong.collectFirst {
      case Remainder(_, Literal(v: Long, LongType), _) => v
    }.getOrElse(return None)

    if (slideUs <= 0 || sizeUs <= slideUs) return None
    // n must be exactly the ceil(size/slide) projections TimeWindowing emits
    if (((sizeUs + slideUs - 1) / slideUs) != n.toLong) return None
    val paneUs = gcd(sizeUs, slideUs)
    validityCond match {
      case None =>
        // without a validity filter the n-fold expansion must be exact
        if (sizeUs % slideUs != 0) return None
      case Some(cond) =>
        val timeCol = startLong.collectFirst {
          case p: PreciseTimestampConversion if p.toType == LongType => p.child
        }.getOrElse(return None)
        if (!isValidityFilter(cond, winAttr, timeCol)) return None
    }

    // every projection i's start must be startLong − i·slide (sanity on a
    // couple of probes; structure already pinned by nonWindowStable + n)
    val probeOk = (1 until math.min(n, 3)).forall { i =>
      expand.projections(i)(winIdx).collectFirst {
        case p: PreciseTimestampConversion if p.toType == TimestampType => p.child
      } match {
        case Some(Subtract(s, Literal(v: Long, LongType), _)) =>
          v == i.toLong * slideUs && s.semanticEquals(stripTrailingZero(startLong))
        case _ => false
      }
    }
    if (!probeOk) return None

    // EVERY aggregate in every output expression must be mergeable (an output
    // may wrap aggregates in arithmetic, e.g. sum(x)*2 or sum(x)/count(y) —
    // each inner aggregate is rewritten in place, so all must qualify)
    val aggsOk = agg.aggregateExpressions.forall { ne =>
      ne.collect { case ae: AggregateExpression => ae }.forall { ae =>
        !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
          case _: Count => true
          case s: Sum => !s.dataType.isInstanceOf[DecimalType]
          case _: Min | _: Max => true
          case a: Average => !a.dataType.isInstanceOf[DecimalType]
          case _ => false
        }) && !ae.references.contains(winAttr)
      }
    }
    if (!aggsOk) return None

    Some(Match(winAttr, winIdx, startLong, slideUs, sizeUs, paneUs, expand))
  }

  /** TimeWindowing folds `x − 0` away in projection 0 but not in later
    * projections' shared subtree; normalize for semantic comparison.
    */
  private def stripTrailingZero(e: Expression): Expression = e match {
    case Subtract(x, Literal(0L, LongType), _) => x
    case other => other
  }

  private def rewrite(agg: Aggregate, expand: Expand, m: Match): LogicalPlan = {
    val n = (m.sizeUs / m.slideUs).toInt
    val child = expand.child
    val keys = agg.groupingExpressions.collect {
      case a: Attribute if a.exprId != m.windowAttr.exprId => a
    }

    // level 1: partial aggregation per pane (+ keys). Collect every distinct
    // aggregate across ALL output expressions (an output may embed several,
    // e.g. sum(x)/count(y)); each gets pane partials and a merge expression
    // that is later substituted back into the original output tree, so any
    // wrapper arithmetic around the aggregate is preserved verbatim.
    val paneAlias = Alias(m.startLong, "__pane")()
    var partialIdx = 0
    val distinctAes = scala.collection.mutable.LinkedHashMap.empty[Expression, AggregateExpression]
    agg.aggregateExpressions.foreach { ne =>
      ne.collect { case ae: AggregateExpression => ae }
        .foreach(ae => distinctAes.getOrElseUpdate(ae.canonicalized, ae))
    }
    // canonicalized agg -> (partial aliases, merged replacement expression)
    val planned: Seq[(Expression, Seq[NamedExpression], Seq[Attribute] => Expression)] =
      distinctAes.toSeq.map { case (canon, ae) =>
        ae.aggregateFunction match {
          case avg: Average =>
            // AVG decomposes into (sum of doubles, count); the merge is
            // Σsums / Σcounts — Average's own sum-in-double semantics.
            partialIdx += 1
            val pSum = Alias(
              Sum(Cast(avg.child, DoubleType)).toAggregateExpression(),
              s"__p$partialIdx")()
            partialIdx += 1
            val pCnt = Alias(
              Count(avg.child).toAggregateExpression(), s"__p$partialIdx")()
            val merge: Seq[Attribute] => Expression = attrs =>
              Divide(
                Sum(attrs(0)).toAggregateExpression(),
                Cast(Sum(attrs(1)).toAggregateExpression(), DoubleType))
            (canon, Seq(pSum, pCnt), merge)
          case fn =>
            partialIdx += 1
            val p = Alias(ae, s"__p$partialIdx")()
            val merge: Seq[Attribute] => Expression = fn match {
              case _: Count => attrs => Sum(attrs.head).toAggregateExpression()
              case _: Sum => attrs => Sum(attrs.head).toAggregateExpression()
              case _: Min => attrs => Min(attrs.head).toAggregateExpression()
              case _: Max => attrs => Max(attrs.head).toAggregateExpression()
              case other => throw new IllegalStateException(s"unexpected $other")
            }
            (canon, Seq(p), merge)
        }
      }
    val partials = planned.flatMap(_._2)
    val mergeFor: Map[Expression, Expression] = planned.map { case (canon, ps, merge) =>
      canon -> merge(ps.map(_.toAttribute))
    }.toMap

    // expansion: pane → its containing window starts (µs), via
    // explode(sequence). When slide | size the pane IS the projection-0
    // window start and every pane is in exactly n windows; for the general
    // gcd pane (slide ∤ size) the pane is startLong rounded down to the
    // gcd grid, grouped together with __ws0 (= startLong, constant within a
    // pane since slide-grid points never fall strictly inside a pane), and
    // the covering-window starts are sequence(firstWs, ws0, slide) with
    // firstWs = ws0 − slide·⌊(ws0 − (pane + g − size)) / slide⌋ — only
    // windows that fully cover the pane, which is exactly row containment
    // because window bounds land on the gcd grid.
    val wsAttr = AttributeReference("__ws", LongType, nullable = false)()
    val (level1, seq) = if (m.paneUs == m.slideUs) {
      val paneAttr = paneAlias.toAttribute
      val l1 = Aggregate(paneAttr +: keys,
        (paneAttr +: keys) ++ partials,
        Project(child.output :+ paneAlias, child))
      val s = new Sequence(
        Subtract(paneAttr, Literal((n - 1).toLong * m.slideUs, LongType)),
        paneAttr,
        Some(Literal(m.slideUs, LongType))).withTimeZone(conf.sessionLocalTimeZone)
      (l1, s)
    } else {
      val g = m.paneUs
      val tsUs = m.startLong.collectFirst {
        case p: PreciseTimestampConversion if p.toType == LongType => p
      }.get // presence proven in applicable()
      val genPane = Add(m.startLong,
        Multiply(Literal(g, LongType),
          IntegralDivide(Subtract(tsUs, m.startLong), Literal(g, LongType))))
      val gPaneAlias = Alias(genPane, "__pane")()
      val ws0Alias = Alias(m.startLong, "__ws0")()
      val paneAttr = gPaneAlias.toAttribute
      val ws0Attr = ws0Alias.toAttribute
      val l1 = Aggregate(Seq(paneAttr, ws0Attr) ++ keys,
        (Seq(paneAttr, ws0Attr) ++ keys) ++ partials,
        Project(child.output ++ Seq(gPaneAlias, ws0Alias), child))
      val span = Subtract(ws0Attr,
        Subtract(Add(paneAttr, Literal(g, LongType)), Literal(m.sizeUs, LongType)))
      val firstWs = Subtract(ws0Attr,
        Multiply(Literal(m.slideUs, LongType),
          IntegralDivide(span, Literal(m.slideUs, LongType))))
      val s = new Sequence(firstWs, ws0Attr,
        Some(Literal(m.slideUs, LongType))).withTimeZone(conf.sessionLocalTimeZone)
      (l1, s)
    }
    val gen = Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(wsAttr), child = level1)

    // level 2: merge per (ws, keys); rebuild original output exprs by
    // substituting each inner aggregate with its merge form IN PLACE — any
    // wrapper arithmetic (sum(x)*2, sum(x)/count(y)) survives untouched.
    // The window struct is reconstructed from ws; any pass-through
    // expression that referenced the old window attribute (e.g. a collapsed
    // window.start projection) gets the rebuilt struct substituted in.
    val structExpr = CreateNamedStruct(Seq(
      Literal("start"), PreciseTimestampConversion(wsAttr, LongType, TimestampType),
      Literal("end"), PreciseTimestampConversion(
        Add(wsAttr, Literal(m.sizeUs, LongType)), LongType, TimestampType)))
    val finalAggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: Attribute if a.exprId == m.windowAttr.exprId =>
        Alias(structExpr, a.name)(exprId = a.exprId)
      case a: Attribute => a
      case other =>
        other.transformDown {
          case ae: AggregateExpression if mergeFor.contains(ae.canonicalized) =>
            mergeFor(ae.canonicalized)
          case att: Attribute if att.exprId == m.windowAttr.exprId => structExpr
        }.asInstanceOf[NamedExpression]
    }
    Aggregate(wsAttr +: keys, finalAggs, gen)
  }
}
