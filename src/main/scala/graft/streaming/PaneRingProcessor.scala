package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.PaneRing

private[streaming] object PaneRingProcessor {

  /** Seconds from 0001-01-01 to 1970-01-01. The operator's event time is
    * shifted by this, so year 1 maps to 0: a stream's first watermark is 0,
    * and unshifted, every pre-1970 pane would be late before it arrives.
    */
  val ShiftSec = 62135596800L

  /** No timer armed. */
  val NoTimer: Long = Long.MinValue

  /** One key's state: its ring's panes, as [[PaneRing.Ring]] holds them
    * (`pane` the starts), the end of the last window emitted, and the
    * expiry of the one timer armed for the key.
    */
  final case class State(
      pane: Array[Long], value: Array[Long], count: Array[Long], emitted: Long, timer: Long)
}

/** The per-key pane ring behind [[Streams.windowAggPaned]]: LightSaber's
  * pane partials kept in event-time order, one `transformWithState` value
  * per key. Each input row folds into its gcd-size pane; a window is merged
  * from its panes and emitted once the watermark reaches its end. Folding,
  * merging, emitting and eviction are [[PaneRing.Kernel]]'s, as in the
  * batch twin.
  *
  * Input rows are (pane start, pane end + shift, [[PaneRing.valueCols]],
  * the key fields); output rows are [[PaneRing.outputSchema]]'s.
  */
private[streaming] final class PaneRingProcessor(k: PaneRing.Kernel)
    extends StatefulProcessor[Row, Row, Row] {
  import PaneRingProcessor._

  // Derived once, when the query is built, and shipped with the processor:
  // deriving it in `init` ran Scala reflection in every task of every trigger.
  private val encoder = Encoders.product[State]
  @transient private var st: ValueState[State] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[State]("ring", encoder, TTLConfig.NONE)

  /** The key's ring and its armed timer. */
  private def load(): (PaneRing.Ring, Long) =
    if (!st.exists()) (new PaneRing.Ring(k.n, 8), NoTimer)
    else {
      val s = st.get()
      (PaneRing.Ring.of(s.pane, s.value, s.count, s.emitted), s.timer)
    }

  private def trim(a: Array[Long], from: Int, until: Int): Array[Long] =
    if (from == 0 && until == a.length) a else java.util.Arrays.copyOfRange(a, from, until)

  /** Emits every window that holds data, ends at or below the watermark
    * and was not yet emitted; saves the ring, or clears the state once it
    * is empty; and keeps one timer armed at the next window end. `fired`
    * is the timer being handled, which Spark deletes itself.
    */
  private def advance(
      key: Row, r: PaneRing.Ring, armed: Long, watermarkMs: Long, fired: Long): Iterator[Row] = {
    val out = mutable.ArrayBuffer.empty[Row]
    k.advance(r, key, Math.floorDiv(watermarkMs, 1000L) - ShiftSec)(w => out += w)
    val at = if (r.isEmpty) NoTimer else (k.nextEnd(r) + ShiftSec) * 1000L
    if (armed != at) {
      if (armed != NoTimer && armed != fired) getHandle.deleteTimer(armed)
      if (at != NoTimer) getHandle.registerTimer(at)
    }
    if (r.isEmpty) st.clear()
    else st.update(State(trim(r.start, r.lo, r.hi), trim(r.value, r.lo * k.n, r.hi * k.n),
      trim(r.count, r.lo * k.n, r.hi * k.n), r.emitted, at))
    out.iterator
  }

  override def handleInputRows(key: Row, rows: Iterator[Row], tv: TimerValues): Iterator[Row] = {
    val (r, armed) = load()
    rows.foreach(k.foldRow(r, _, 2, counted = false))
    advance(key, r, armed, tv.getCurrentWatermarkInMs(), NoTimer)
  }

  override def handleExpiredTimer(
      key: Row, tv: TimerValues, info: ExpiredTimerInfo): Iterator[Row] = {
    val (r, armed) = load()
    advance(key, r, armed, tv.getCurrentWatermarkInMs(), info.getExpiryTimeInMs())
  }
}
