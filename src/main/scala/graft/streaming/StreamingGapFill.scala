package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming tumbling aggregation WITH empty-window (bubble) emission — the
  * stream-side mirror of the reference's fillEmptyWindows
  * (src/cql/operators/codeGeneration/OperatorKernel.h:3830-3988, invoked at
  * :4129-4142): when the event time jumps past one or more whole windows, the
  * skipped windows emit with count 0 / NULL sum. Batch opt-in gap-filling is
  * operators.GapFill; this operator produces the same rows incrementally, per
  * key, as the stream progresses.
  *
  * Keyed `transformWithState` (Spark 4 state-v2; the running query needs the
  * RocksDB state store provider) in event-time mode. State per key is the
  * set of OPEN windows (those whose end is still above the watermark) plus
  * the close frontier — O(1) with in-order input, O(lateness/size) windows
  * under a lateness bound. An event-time TIMER re-arms for the end of the
  * next window to close, so quiet keys keep closing and emitting trailing
  * bubbles as the global watermark advances.
  *
  * Two closing regimes, selected by `watermarkDelaySec`:
  *  - `0` (in-order contract, the reference's operating assumption
  *    README.md:16): a window closes the moment a later-window row of the same
  *    key arrives (lowest latency), or when the watermark passes its end
  *    (quiet keys keep closing and emitting trailing bubbles).
  *  - `> 0` (out-of-order within the bound): rows ONLY accumulate — several
  *    windows may be in flight at once — and a window closes exclusively when
  *    the watermark passes its end, so an out-of-order row within the declared
  *    lateness is never dropped and counts match batch GapFill exactly.
  *    (Closing on the first later row here would silently undercount — the
  *    bug this regime split fixes.)
  * Rows at or below the close frontier are genuinely later than the declared
  * bound and are dropped, mirroring Spark's own late-row policy for
  * watermarked aggregations.
  */
object StreamingGapFill {

  // ts carries the watermarked column into the stateful operator — the
  // event-time-mode check requires it in the operator's input schema
  case class InRow(event_type: String, es: Long, value: Double, ts: java.sql.Timestamp)

  /** @param lo          minimum window id seen (bubble baseline — batch
    *                    GapFill's per-key min ws)
    * @param closedUpTo  close frontier: every window id ≤ this has been
    *                    emitted (real or bubble) and is final
    * @param open        in-flight windows as (wid, cnt, sum) entries — a
    *                    Seq, not a Map: the state-v2 value encoder rejects
    *                    MapType with non-string keys ("Unexpected type
    *                    MapType(LongType, ...)"), and the entry count is
    *                    O(lateness/size), so linear access is fine
    * @param timer       expiry of the key's one armed timer ([[NoTimer]]
    *                    for none)
    */
  case class GapState(
      lo: Long, closedUpTo: Long, started: Boolean,
      open: Seq[(Long, Long, Double)], timer: Long = NoTimer) {
    def openGet(wid: Long): (Long, Double) =
      open.find(_._1 == wid).map(e => (e._2, e._3)).getOrElse((0L, 0.0))
    def openUpdated(wid: Long, cnt: Long, sum: Double): Seq[(Long, Long, Double)] =
      open.filterNot(_._1 == wid) :+ ((wid, cnt, sum))
    def openRemoved(wid: Long): Seq[(Long, Long, Double)] =
      open.filterNot(_._1 == wid)
  }
  val NoTimer: Long = Long.MinValue

  case class WinOut(event_type: String, ws: Long, cnt: Long, sum_v: Option[Double])

  private class GapFillProcessor(sizeSec: Long, watermarkDelaySec: Long)
      extends StatefulProcessor[String, InRow, WinOut] {
    private val sizeMs = sizeSec * 1000L
    // derived once, when the query is built, not by reflection in every task
    private val encoder = Encoders.product[GapState]
    @transient private var st: ValueState[GapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[GapState]("gap", encoder, TTLConfig.NONE)

    /** Emit every window in [frontier+1 ∨ lo, upTo], real or bubble. */
    private def emitThrough(
        key: String, st0: GapState, upTo: Long,
        out: scala.collection.mutable.ArrayBuffer[WinOut]): GapState = {
      var s = st0
      var w = math.max(s.closedUpTo + 1, s.lo)
      while (w <= upTo) {
        val (c, sm) = s.openGet(w)
        out += WinOut(key, w * sizeSec, c, if (c > 0) Some(sm) else None)
        s = s.copy(open = s.openRemoved(w), closedUpTo = w)
        w += 1
      }
      s
    }

    /** Re-arm the single per-key timer for the end of the next window to
      * close (trailing bubbles keep flowing as the watermark advances);
      * must be strictly above the current watermark or it would fire
      * immediately forever. The timer armed before is deleted unless it is
      * `fired`, the one being handled, which Spark deletes itself.
      */
    private def rearm(s: GapState, wm: Long, fired: Long): GapState = {
      val at = math.max((math.max(s.closedUpTo + 1, s.lo) + 1) * sizeMs, wm + 1L)
      if (s.timer != at) {
        if (s.timer != NoTimer && s.timer != fired) getHandle.deleteTimer(s.timer)
        getHandle.registerTimer(at)
      }
      s.copy(timer = at)
    }

    override def handleInputRows(
        key: String, rows: Iterator[InRow], tv: TimerValues): Iterator[WinOut] = {
      val wm = tv.getCurrentWatermarkInMs()
      // last window id finalized by the current watermark (end ≤ wm)
      val wMaxWm = Math.floorDiv(wm - sizeMs, sizeMs)
      val out = scala.collection.mutable.ArrayBuffer.empty[WinOut]
      var s = if (st.exists()) st.get()
        else GapState(0L, Long.MinValue, started = false, Seq.empty)
      rows.toSeq.sortBy(_.es).foreach { r =>
        val wid = r.es / sizeSec
        if (!s.started)
          // frontier starts at whichever is older: just before this
          // first window, or the watermark's own close line — so a
          // subsequent EARLIER row still within the lateness bound
          // (wid > wMaxWm) lands in an open window, never dropped
          s = GapState(wid, math.min(wid - 1, wMaxWm), started = true, Seq.empty, s.timer)
        if (wid > s.closedUpTo) {
          if (watermarkDelaySec == 0L && wid > math.max(s.closedUpTo + 1, s.lo))
            s = emitThrough(key, s, wid - 1, out) // in-order fast path
          if (wid < s.lo) s = s.copy(lo = wid)
          val (c, sm) = s.openGet(wid)
          s = s.copy(open = s.openUpdated(wid, c + 1, sm + r.value))
        } // else: older than the close frontier — beyond the declared
          // lateness bound, dropped
      }
      // Close watermark-finalized windows HERE too, not only in the timer
      // path: a key with data in every micro-batch re-arms its timer above
      // the current watermark each invocation and would otherwise never
      // emit (and `open` would grow without bound, breaking the
      // O(lateness/size) state contract). Safe: Spark's late-row filter
      // drops rows with ts < watermark, so no future row can land in a
      // window whose end ≤ watermark.
      if (s.started) s = emitThrough(key, s, wMaxWm, out)
      st.update(rearm(s, wm, NoTimer))
      out.iterator
    }

    override def handleExpiredTimer(
        key: String, tv: TimerValues, info: ExpiredTimerInfo): Iterator[WinOut] = {
      val wm = tv.getCurrentWatermarkInMs()
      val wMaxWm = Math.floorDiv(wm - sizeMs, sizeMs)
      val out = scala.collection.mutable.ArrayBuffer.empty[WinOut]
      var s = if (st.exists()) st.get()
        else GapState(0L, Long.MinValue, started = false, Seq.empty)
      if (s.started) s = emitThrough(key, s, wMaxWm, out)
      st.update(rearm(s, wm, info.getExpiryTimeInMs()))
      out.iterator
    }
  }

  /** @param watermarkDelaySec watermark lateness bound on `ts`; the timer
    *   path closes every window whose end ≤ watermark, so with delay d a
    *   window closes at most d + trigger-interval after its end.
    */
  def tumblingWithBubbles(
      spark: SparkSession,
      stream: DataFrame,
      sizeSec: Long,
      watermarkDelaySec: Long = 0L): Dataset[WinOut] = {
    import spark.implicits._
    val typed = stream
      .withWatermark("ts", s"$watermarkDelaySec seconds")
      .select(col("event_type"), col("es"), col("value"), col("ts")).as[InRow]
    typed
      .groupByKey(_.event_type)
      .transformWithState(new GapFillProcessor(sizeSec, watermarkDelaySec),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
