package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.AggFn

/** The per-key pane ring behind [[Streams.windowAggPaned]]: LightSaber's
  * pane partials kept in event-time order, one `transformWithState` value
  * per key. Each input row folds into its gcd-size pane; a window is merged
  * from its size/pane panes and emitted once the watermark reaches its end.
  */
private[streaming] object PaneRing {

  /** Seconds from 0001-01-01 to 1970-01-01. The operator's event time is
    * shifted by this, so year 1 maps to 0: a stream's first watermark is 0,
    * and unshifted, every pre-1970 pane would be late before it arrives.
    */
  val ShiftSec = 62135596800L

  /** One key's state. Pane starts ascend; pane i's partials are
    * `value`/`count` at i·n until (i+1)·n, n being the number of aggregates.
    * `count` is the rows (CNT) or non-null inputs (others) folded in.
    * `emitted` is the end of the last window emitted.
    */
  final case class Ring(pane: Array[Long], value: Array[Double], count: Array[Long], emitted: Long)

  private final class Slot(n: Int) {
    val value = new Array[Double](n)
    val count = new Array[Long](n)
  }

  // Spark's double order: NaN above everything.
  private def below(a: Double, b: Double): Boolean = !a.isNaN && (b.isNaN || a < b)

  /** Input rows are (pane start, pane end + shift, one double per
    * aggregate, the key fields). Output rows are the key fields, `ws`, then
    * per aggregate its merged value (null when no non-null input) and count.
    */
  final class Processor(pane: Long, size: Long, slide: Long, fns: Array[AggFn])
      extends StatefulProcessor[Row, Row, Row] {
    private val n = fns.length
    @transient private var st: ValueState[Ring] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Ring]("ring", Encoders.product[Ring], TTLConfig.NONE)

    /** Folds `c` inputs whose SUM/MIN/MAX is `x` into partial `j` of `s`
      * (AVG folds as SUM; CNT only counts).
      */
    private def merge(s: Slot, j: Int, x: Double, c: Long): Unit =
      if (c > 0) {
        val fresh = s.count(j) == 0
        fns(j) match {
          case AggFn.Sum | AggFn.Avg => s.value(j) += x
          case AggFn.Min => if (fresh || below(x, s.value(j))) s.value(j) = x
          case AggFn.Max => if (fresh || below(s.value(j), x)) s.value(j) = x
          case AggFn.Cnt =>
        }
        s.count(j) += c
      }

    private def floorTo(a: Long, b: Long): Long = a - Math.floorMod(a, b)
    private def ceilTo(a: Long, b: Long): Long = floorTo(a + b - 1, b)

    private def load(): (mutable.TreeMap[Long, Slot], Long) = {
      val ring = mutable.TreeMap.empty[Long, Slot]
      if (!st.exists()) (ring, Long.MinValue)
      else {
        val r = st.get()
        r.pane.indices.foreach { i =>
          val s = new Slot(n)
          System.arraycopy(r.value, i * n, s.value, 0, n)
          System.arraycopy(r.count, i * n, s.count, 0, n)
          ring(r.pane(i)) = s
        }
        (ring, r.emitted)
      }
    }

    /** Emits every window that holds data, ends at or below the watermark
      * and ends after `emitted0`, in window order; evicts each pane whose
      * last window has been emitted; saves the ring and re-arms one timer
      * at the next window end. `fired` is the timer being handled, which
      * Spark deletes itself.
      */
    private def advance(
        key: Row, ring: mutable.TreeMap[Long, Slot], emitted0: Long,
        watermarkMs: Long, fired: Option[Long]): Iterator[Row] = {
      val limit = Math.floorDiv(watermarkMs, 1000L) - ShiftSec
      val out = mutable.ArrayBuffer.empty[Row]
      var emitted = emitted0
      var next = Long.MinValue // lowest window start not yet considered
      val it = ring.keysIterator
      var more = true
      while (more && it.hasNext) {
        val p = it.next()
        if (p + pane > limit) more = false // every later window ends after the watermark
        else {
          // the starts of the windows holding pane p, as in TimeWindows.paneWindowStarts
          var ws = math.max(ceilTo(p + pane - size, slide), next)
          val hi = floorTo(p, slide)
          while (ws <= hi && ws + size <= limit) {
            if (ws + size > emitted) {
              val acc = new Slot(n)
              ring.range(ws, ws + size).valuesIterator.foreach { s =>
                var j = 0
                while (j < n) { merge(acc, j, s.value(j), s.count(j)); j += 1 }
              }
              val cols = new Array[Any](2 * n)
              var j = 0
              while (j < n) {
                cols(2 * j) = if (acc.count(j) > 0 && fns(j) != AggFn.Cnt) acc.value(j) else null
                cols(2 * j + 1) = acc.count(j)
                j += 1
              }
              out += Row.fromSeq(key.toSeq ++ (ws +: cols.toSeq))
              emitted = ws + size
            }
            ws += slide
          }
          next = math.max(next, hi + slide)
        }
      }
      while (ring.nonEmpty && floorTo(ring.firstKey, slide) + size <= emitted)
        ring.remove(ring.firstKey)

      val timers = getHandle.listTimers().filterNot(fired.contains).toList
      if (ring.isEmpty) {
        st.clear()
        timers.foreach(getHandle.deleteTimer)
      } else {
        val panes = ring.keysIterator.toArray
        val value = new Array[Double](panes.length * n)
        val count = new Array[Long](panes.length * n)
        ring.valuesIterator.zipWithIndex.foreach { case (s, i) =>
          System.arraycopy(s.value, 0, value, i * n, n)
          System.arraycopy(s.count, 0, count, i * n, n)
        }
        st.update(Ring(panes, value, count, emitted))
        // the first pane's earliest window not yet emitted ends first
        val lo = ceilTo(panes(0) + pane - size, slide)
        val end = size +
          (if (emitted == Long.MinValue) lo else math.max(lo, ceilTo(emitted - size + 1, slide)))
        val at = (end + ShiftSec) * 1000L
        timers.filter(_ != at).foreach(getHandle.deleteTimer)
        if (!timers.contains(at)) getHandle.registerTimer(at)
      }
      out.iterator
    }

    override def handleInputRows(
        key: Row, rows: Iterator[Row], tv: TimerValues): Iterator[Row] = {
      val (ring, emitted) = load()
      rows.foreach { r =>
        val s = ring.getOrElseUpdate(r.getLong(0), new Slot(n))
        var j = 0
        while (j < n) {
          if (fns(j) == AggFn.Cnt) merge(s, j, 0.0, 1L)
          else if (!r.isNullAt(2 + j)) merge(s, j, r.getDouble(2 + j), 1L)
          j += 1
        }
      }
      advance(key, ring, emitted, tv.getCurrentWatermarkInMs(), None)
    }

    override def handleExpiredTimer(
        key: Row, tv: TimerValues, info: ExpiredTimerInfo): Iterator[Row] = {
      val (ring, emitted) = load()
      advance(key, ring, emitted, tv.getCurrentWatermarkInMs(), Some(info.getExpiryTimeInMs()))
    }
  }
}
