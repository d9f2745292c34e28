package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{AggFn, AggSpec, CountWindows, Joins, PostWindow, TimeWindows}

/** Thin typed DSL mirroring the reference's programmatic query surface
  * (SURVEY §2: operator objects composed into a Query — reference
  * src/utils/Query.h:20-28 — there is no SQL front end). A user of the
  * reference composes `Selection/Projection/Aggregation/StaticHashJoin/
  * ThetaJoin` objects; here the same shapes compile to a DataFrame plan and
  * Catalyst picks the physical strategy.
  *
  * Expressions/predicates cover the reference's entire scalar surface
  * (§2.2-2.3: column refs, typed constants, + − × ÷; comparisons == != < <=
  * > >=, AND, OR — reference src/cql/expressions/, src/cql/predicates/).
  */
object ast {

  // ----- expressions (reference src/cql/expressions/*)
  sealed trait Expr { def toColumn: Column }
  final case class Attr(name: String) extends Expr { def toColumn: Column = col(name) }
  final case class Const(v: Any) extends Expr { def toColumn: Column = lit(v) }
  final case class Add(l: Expr, r: Expr) extends Expr { def toColumn: Column = l.toColumn + r.toColumn }
  final case class Sub(l: Expr, r: Expr) extends Expr { def toColumn: Column = l.toColumn - r.toColumn }
  final case class Mul(l: Expr, r: Expr) extends Expr { def toColumn: Column = l.toColumn * r.toColumn }
  final case class Div(l: Expr, r: Expr) extends Expr { def toColumn: Column = l.toColumn / r.toColumn }

  // ----- predicates (reference src/cql/predicates/*)
  sealed trait Pred { def toColumn: Column }
  object CmpOp extends Enumeration { val Eq, Ne, Lt, Le, Gt, Ge = Value }
  final case class Cmp(op: CmpOp.Value, l: Expr, r: Expr) extends Pred {
    def toColumn: Column = op match {
      case CmpOp.Eq => l.toColumn === r.toColumn
      case CmpOp.Ne => l.toColumn =!= r.toColumn
      case CmpOp.Lt => l.toColumn < r.toColumn
      case CmpOp.Le => l.toColumn <= r.toColumn
      case CmpOp.Gt => l.toColumn > r.toColumn
      case CmpOp.Ge => l.toColumn >= r.toColumn
    }
  }
  final case class And(ps: Seq[Pred]) extends Pred {
    def toColumn: Column = ps.map(_.toColumn).reduce(_ && _)
  }
  final case class Or(ps: Seq[Pred]) extends Pred {
    def toColumn: Column = ps.map(_.toColumn).reduce(_ || _)
  }

  // ----- windows (reference src/utils/WindowDefinition.h)
  sealed trait Measure
  case object RowBased extends Measure
  case object RangeBased extends Measure
  final case class WindowDef(measure: Measure, size: Long, slide: Long) {
    require(slide <= size, "slide must not exceed size")
    def isTumbling: Boolean = slide == size
  }

  // ----- operators (reference src/cql/operators/*)
  sealed trait Op
  /** O3 Selection(pred) — reference Selection.h:11-45. */
  final case class Selection(pred: Pred) extends Op
  /** O2 Projection(exprs) — reference Projection.h:15-71. */
  final case class Projection(exprs: Seq[(Expr, String)]) extends Op
  /** §2.4 Aggregation(window, fns, attrs, groupBy) — reference Aggregation.h:33-109.
    * Range windows need `tsCol`; row windows need `orderBy` (unique ordering)
    * and group-by keys must be plain attributes. A sliding range window
    * (slide < size) runs pane-sliced, where SUM, AVG, MIN and MAX take only
    * integral or floating-point inputs: a DECIMAL, timestamp, date or string
    * input fails when the DataFrame is built, naming the input.
    */
  final case class Aggregation(
      window: WindowDef,
      aggs: Seq[(AggFn, String, String)], // (fn, inputAttr, outAlias)
      groupBy: Seq[(Expr, String)] = Nil,
      having: Option[Pred] = None,
      tsCol: String = "ts",
      orderBy: Seq[String] = Nil,
      quantize: Option[Int] = Some(4)) extends Op
  /** J1 StaticHashJoin — reference StaticHashJoin.h:14-79. */
  final case class StaticJoin(dim: DataFrame, on: Pred) extends Op
  /** J2 windowed θ-join — reference ThetaJoin.h:18-818: pair with `other`
    * rows whose `otherTs` lies within [thisTs, thisTs + windowSec] and θ
    * holds. Include an equi component in θ when semantics allow, so the join
    * shuffles by key instead of broadcast-nested-loop.
    */
  final case class ThetaJoin(
      other: DataFrame, theta: Pred,
      thisTs: String, otherTs: String, windowSec: Long) extends Op
  /** O5 post-window hot-items — reference NBQ5.cpp:63-110. */
  final case class HotItems(partition: Seq[String], valueCol: String) extends Op

  /** A pipeline of operators over one input stream — the reference's Query
    * (one fused pipeline). `connectTo` chaining is plain function composition
    * here: q2.compile(q1.compile(df)).
    */
  final case class StreamQuery(ops: Seq[Op]) {
    def compile(df: DataFrame): DataFrame = ops.foldLeft(df)(applyOp)

    private def applyOp(df: DataFrame, op: Op): DataFrame = op match {
      case Selection(p) => df.filter(p.toColumn)
      case Projection(es) => df.select(es.map { case (e, n) => e.toColumn.as(n) }: _*)
      case StaticJoin(dim, on) => Joins.staticBroadcast(df, dim, on.toColumn)
      case ThetaJoin(other, theta, lts, rts, w) =>
        Joins.windowedTheta(df, other, col(lts), col(rts), w, theta.toColumn)
      case HotItems(part, v) => PostWindow.keepMaxBy(df, part, v)
      case a: Aggregation =>
        val specs = a.aggs.map { case (fn, in, out) =>
          AggSpec(fn, col(in), out, if (fn == AggFn.Cnt) None else a.quantize)
        }
        val withKeys = a.groupBy.foldLeft(df) { case (d, (e, n)) => d.withColumn(n, e.toColumn) }
        val keyNames = a.groupBy.map(_._2)
        val agged = a.window.measure match {
          case RangeBased =>
            TimeWindows.auto(withKeys, col(a.tsCol), a.window.size, a.window.slide,
              keyNames, specs)
          case RowBased if a.window.isTumbling =>
            CountWindows.tumblingIds(withKeys, keyNames, a.orderBy.map(col),
                a.window.size.toInt)
              .groupBy((keyNames :+ "wid").map(col): _*)
              .agg(specs.head.toColumn, specs.tail.map(_.toColumn): _*)
          case RowBased => // generic sliding row window (gcd-pane partials)
            CountWindows.slidingAgg(withKeys, keyNames, a.orderBy.map(col),
              a.window.size.toInt, a.window.slide.toInt, specs)
        }
        a.having.fold(agged)(h => agged.where(h.toColumn))
    }
  }
}
