package graft.operators

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Start, in epoch seconds, of the `bucketSec`-second bucket holding a
  * timestamp: `floorDiv(micros, bucketSec · 10⁶) · bucketSec`, straight from
  * the stored microseconds — LightSaber's integer pane id over the long
  * timestamp (reference WindowDefinition.h:46, OperatorKernel.h pane math).
  *
  * TIMESTAMP and TIMESTAMP_NTZ are both a `long` of microseconds, so neither
  * pays a time-zone conversion: an NTZ value is bucketed as its wall clock
  * read as UTC, the DuckDB oracle's `epoch_us(ts::TIMESTAMP)`, whatever the
  * session zone. Any other input (a DATE, a string) reaches the expression
  * through the analyzer's implicit cast to TIMESTAMP in the session zone,
  * the same `CAST(x AS TIMESTAMP)` callers wrote before.
  */
case class EpochBucket(child: Expression, bucketSec: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(bucketSec > 0 && bucketSec <= Long.MaxValue / 1000000L,
    s"bucket of $bucketSec s is not a positive microsecond count")

  private def bucketMicros: Long = bucketSec * 1000000L

  override def inputTypes = GraftColumnBridge.anyTimestampInput

  override def dataType: DataType = LongType

  override def nullSafeEval(micros: Any): Any =
    Math.floorDiv(micros.asInstanceOf[Long], bucketMicros) * bucketSec

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, us =>
      s"java.lang.Math.floorDiv($us, ${bucketMicros}L) * ${bucketSec}L")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
