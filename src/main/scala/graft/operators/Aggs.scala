package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Aggregation function surface of the reference engine.
  *
  * Mirrors `AggregationType` in the reference (src/cql/operators/AggregationType.h:12):
  * MAX, MIN, CNT, SUM, AVG. Multiple aggregates per query are allowed
  * (reference ME1 has three AVGs). Outputs are declared `double`
  * (FIXTURES.md pins this; the reference's float+count layout is an
  * implementation detail).
  */
/** Cross-engine-deterministic quantization to `d` decimals:
  * floor(x·10^d + 0.5) / 10^d, all plain IEEE ops.
  *
  * Why not `round`: Spark's Round snaps a double to its shortest decimal
  * representation (BigDecimal.valueOf) before rounding HALF_UP, while DuckDB
  * rounds the exact binary value — on a double whose shortest repr is a tie
  * string (e.g. 42.63625 whose binary value is 42.636249999...), the two
  * engines disagree by one ulp-of-the-grid. The floor formula is the same
  * IEEE multiply/add/floor/divide in both engines, so identical input doubles
  * give identical output doubles, and values whose true magnitude sits on a
  * coarser decimal grid (the testdata's 2-decimal values) are immune to
  * summation-order noise.
  */
object Quant {
  def q4(c: Column, d: Int = 4): Column = {
    val p = math.pow(10, d)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }
  def sql(x: String, d: Int = 4): String = {
    val p = math.pow(10, d).toLong
    s"floor(($x) * $p + 0.5) / $p"
  }
}

sealed abstract class AggFn(val sqlName: String)
object AggFn {
  case object Cnt extends AggFn("count")
  case object Sum extends AggFn("sum")
  case object Avg extends AggFn("avg")
  case object Min extends AggFn("min")
  case object Max extends AggFn("max")
}

/** One aggregate column: `fn(input) AS alias`, optionally rounded to `roundTo`
  * decimals (doubles only — rounding pins the DuckDB-oracle hash compare
  * against float summation-order differences).
  */
final case class AggSpec(
    fn: AggFn,
    input: Column,
    alias: String,
    roundTo: Option[Int] = None) {

  /** Direct (single-level) aggregate column.
    *
    * Rounded AVG is computed as round(round(sum, d) / count, d): the inputs
    * sit on a coarse decimal grid (TESTDATA values have 2 decimals), so the
    * rounded sum is deterministic regardless of summation order — dividing
    * identical doubles then makes the rounded average deterministic too.
    * Plain round(avg, d) is not: summation-order noise straddles half-ulp
    * ties at the d-th decimal, and the DuckDB oracle lands on the other side.
    */
  def toColumn: Column = {
    val c = fn match {
      case AggFn.Cnt => count(lit(1))
      case AggFn.Sum => sum(input)
      case AggFn.Avg => roundTo match {
        case Some(d) => Quant.q4(Quant.q4(sum(input), d) / count(input), d)
        case None    => avg(input)
      }
      case AggFn.Min => min(input)
      case AggFn.Max => max(input)
    }
    (if (fn == AggFn.Avg) c else rounded(c)).as(alias)
  }

  def rounded(c: Column): Column = roundTo.fold(c)(d => Quant.q4(c, d))

  /** Partial-aggregate columns needed for two-level (pane-based) execution.
    * CNT/SUM/AVG are invertible-combinable via (sum, count); MIN/MAX combine
    * by min/max — exactly the algebraic decomposition the reference's
    * incremental pane machinery relies on (AggregationType.h:26-34).
    */
  private[graft] def partialCols: Seq[(String, Column)] = fn match {
    case AggFn.Cnt => Seq(s"__p_cnt_$alias" -> count(lit(1)))
    case AggFn.Sum => Seq(s"__p_sum_$alias" -> sum(input))
    // count(input), not count(*): keeps the paned AVG consistent with
    // toColumn's avg/count(input) if a nullable column ever flows through.
    case AggFn.Avg => Seq(s"__p_sum_$alias" -> sum(input), s"__p_cnt_$alias" -> count(input))
    case AggFn.Min => Seq(s"__p_min_$alias" -> min(input))
    case AggFn.Max => Seq(s"__p_max_$alias" -> max(input))
  }

  /** Final combine over the partial columns (same AVG determinism treatment
    * as [[toColumn]]).
    */
  private[graft] def finalCol: Column = {
    val c = fn match {
      case AggFn.Cnt => sum(col(s"__p_cnt_$alias"))
      case AggFn.Sum => sum(col(s"__p_sum_$alias"))
      case AggFn.Avg => roundTo match {
        case Some(d) =>
          Quant.q4(Quant.q4(sum(col(s"__p_sum_$alias")), d) / sum(col(s"__p_cnt_$alias")), d)
        case None =>
          sum(col(s"__p_sum_$alias")) / sum(col(s"__p_cnt_$alias"))
      }
      case AggFn.Min => min(col(s"__p_min_$alias"))
      case AggFn.Max => max(col(s"__p_max_$alias"))
    }
    (if (fn == AggFn.Avg) c else rounded(c)).as(alias)
  }

  /** This aggregate's pane partial ([[partialCols]]) as the pane ring reads
    * it: the value (none for CNT) and the count, which for SUM, MIN and MAX
    * only says whether the pane had a non-null input.
    */
  private[graft] def partialValueCount: (Column, Column) = fn match {
    case AggFn.Cnt => (lit(null), col(s"__p_cnt_$alias"))
    case AggFn.Avg => (col(s"__p_sum_$alias"), col(s"__p_cnt_$alias"))
    case _ =>
      val v = col(partialCols.head._1)
      (v, when(v.isNull, 0L).otherwise(1L))
  }

  /** Names of the two columns the pane ring emits per window for this
    * aggregate: the merged SUM/MIN/MAX (null with no non-null input), and
    * the count of rows (CNT) or of non-null inputs (AVG).
    */
  private[graft] def mergedNames: (String, String) = (s"__m_v_$alias", s"__m_n_$alias")

  /** Final value over [[mergedNames]] for an `input` of type `inputType`
    * (same AVG determinism treatment as [[toColumn]]): SUM comes out as
    * Spark's `sum` gives it, MIN and MAX in the input's type.
    */
  private[graft] def mergedCol(inputType: DataType): Column = {
    val (v, n) = (col(mergedNames._1), col(mergedNames._2))
    val c = fn match {
      case AggFn.Cnt => n
      case AggFn.Avg => roundTo match {
        case Some(d) => Quant.q4(Quant.q4(v, d) / n, d)
        case None    => v / n
      }
      case AggFn.Min | AggFn.Max => v.cast(inputType)
      case AggFn.Sum => v
    }
    (if (fn == AggFn.Avg) c else rounded(c)).as(alias)
  }
}
