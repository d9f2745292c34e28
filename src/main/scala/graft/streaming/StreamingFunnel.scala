package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.Funnel

/** [[graft.operators.Funnel]]'s STREAMING twin — live per-window funnel
  * tracking on the production append path: events flow through a
  * watermarked tumbling-window aggregate keyed (window, user); when the
  * watermark closes a window, the user's funnel depth for that window
  * emits exactly once. Semantics per window: anchor at the user's first
  * step-1 event IN the window, later steps in order within it — the
  * per-day (per-hour, …) conversion funnel every product dashboard
  * plots, computed incrementally instead of by re-scanning the day.
  *
  * Same fold, same engine-independent determinism as the batch operator
  * ([[Funnel.foldDepth]] over sorted (t, s) structs); the stateful part
  * is a plain windowed `collect_list`, so state per (window, user) is
  * that user's step events in the window — the sessionizer envelope —
  * and eviction is the standard watermark contract (emitted set =
  * windows with end ≤ max event time).
  *
  * Step-type filtering happens BEFORE the watermark, so only funnel
  * events advance event time — mirror accordingly.
  */
object StreamingFunnel {

  /** Append-mode (ws, user, depth) per closed tumbling window; `depth` ≥
    * 1 (a user with no anchor in the window reports 0 and is dropped
    * here — count rollups never read unanchored rows).
    */
  def userDepth(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, steps: Seq[String], windowSec: Long,
      watermark: String = "0 seconds"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val n = steps.length
    val agg = events
      .select(col(tsCol).as("__ts"), col(userCol).as("u"),
        Funnel.stepIndex(col(typeCol), steps).as("s"))
      .where(col("s") >= 0)
      .withColumn("t", expr("unix_micros(__ts) div 1000000"))
      .withWatermark("__ts", watermark)
      .groupBy(window(col("__ts"), s"$windowSec seconds"), col("u"))
      .agg(sort_array(collect_list(struct(col("t"), col("s")))).as("evs"))
    val folded = Funnel.foldDepth(col("evs"), n, windowSec)
    agg.select(expr("unix_micros(window.start) div 1000000").as("ws"),
        col("u").as(userCol), folded.getField("d").as("depth"))
      .where(col("depth") >= 1)
  }

  case class StepIn[K](ws: Long, u: K, t: Long, s: Int,
      ts: java.sql.Timestamp)
  case class FunnelState(seq: Long, ts: Seq[Long], ss: Seq[Int])
  case class LiveOut[K](ws: Long, u: K, seq: Long, depth: Int,
      fin: Boolean)

  /** The per-(window, user) live fold: state is the user's sorted step
    * events in the window (the same envelope the closed-window
    * `collect_list` carries), replayed through the IDENTICAL left fold
    * as [[Funnel.foldDepth]] on every trigger with arrivals — so the
    * provisional depth is at every trigger exactly what the closed
    * window WOULD report on the data seen so far, and the final snapshot
    * equals the closed-window emission (spec-pinned convergence).
    *
    * SELF-CONTAINED EVICTION: each key registers ONE event-time timer at
    * its window's end; when the watermark crosses it the key emits a
    * terminal `fin = true` row (the same depth the closed-window
    * [[userDepth]] reports) and its state is CLEARED — so a long-running
    * dashboard query holds state only for open windows, without pairing
    * with a second query or a wall-clock TTL that could fire mid-window
    * on a lagging stream.
    */
  private class LiveProc[K](n: Int, windowSec: Long)
      extends StatefulProcessor[(Long, K), StepIn[K], LiveOut[K]] {
    @transient private var st: ValueState[FunnelState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState](
        "fs", Encoders.product[FunnelState], TTLConfig.NONE)
    // the same greedy-from-first-anchor fold as Funnel.foldDepth —
    // sorted (t, s), anchor at first step-0, advance in order within
    // the anchor window
    private def depthOf(evs: Seq[(Long, Int)]): Int = {
      var d = 0; var t0 = 0L
      for ((t, s) <- evs) {
        if (d == 0 && s == 0) { d = 1; t0 = t }
        else if (d > 0 && d < n && s == d && t <= t0 + windowSec) d += 1
      }
      d
    }
    override def handleInputRows(key: (Long, K), rows: Iterator[StepIn[K]],
        tv: TimerValues): Iterator[LiveOut[K]] = {
      // one timer per key, at its window's close, armed with the key's
      // first state: a key with state has its timer (the timer clears the
      // state), so no timer listing and no duplicate register
      val armed = st.exists()
      val prev = if (armed) st.get() else FunnelState(0L, Nil, Nil)
      val evs = (prev.ts.zip(prev.ss) ++ rows.map(r => (r.t, r.s))).sorted
      val d = depthOf(evs)
      val seq = prev.seq + 1
      st.update(FunnelState(seq, evs.map(_._1), evs.map(_._2)))
      if (!armed) getHandle.registerTimer((key._1 + windowSec) * 1000L)
      if (d >= 1) Iterator.single(LiveOut(key._1, key._2, seq, d,
        fin = false))
      else Iterator.empty
    }
    override def handleExpiredTimer(key: (Long, K), tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[LiveOut[K]] = {
      val out = if (st.exists()) {
        val prev = st.get()
        val d = depthOf(prev.ts.zip(prev.ss))
        if (d >= 1)
          Iterator.single(LiveOut(key._1, key._2, prev.seq + 1, d,
            fin = true))
        else Iterator.empty
      } else Iterator.empty
      st.clear()
      out
    }
  }

  /** PROGRESSIVE funnel emission — the live-dashboard variant of
    * [[userDepth]], which only speaks when the watermark CLOSES a window
    * (a full window of latency between a conversion and the dashboard
    * seeing it). Here every trigger with arrivals emits the (window,
    * user)'s refreshed provisional depth tagged with a per-key update
    * sequence number — [[StreamingHeavyHitters]]'s snapshot+seq contract:
    * a consumer reads max-seq rows ("latest wins") and is never more than
    * one trigger behind, while the provisional value CONVERGES to the
    * closed-window [[userDepth]] emission (same events, same fold —
    * pinned by StreamingFunnelLiveSpec). When the watermark passes a
    * window's end, each of its keys emits a terminal `fin = true` row
    * (always the max-seq row for the key, equal to the closed-window
    * depth) and the key's state is evicted — the query is self-contained:
    * state is bounded by the OPEN windows' keys, with no companion query
    * or wall-clock TTL needed. The step-type filter sits BELOW the
    * watermark, so only funnel events advance event time — mirror
    * accordingly.
    */
  def userDepthLive(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, steps: Seq[String], windowSec: Long,
      watermark: String = "0 seconds"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    // native key typing (the r18 verdict's seam #3): `u` keeps the user
    // column's own type for long/int/string keys; anything else casts to
    // string (documented fallback). Null keys unsupported for primitive
    // key types — filter upstream.
    events.schema(userCol).dataType match {
      case LongType => liveImpl[Long](events, tsCol, col(userCol),
        typeCol, steps, windowSec, watermark)
      case IntegerType => liveImpl[Int](events, tsCol, col(userCol),
        typeCol, steps, windowSec, watermark)
      case StringType => liveImpl[String](events, tsCol, col(userCol),
        typeCol, steps, windowSec, watermark)
      case _ => liveImpl[String](events, tsCol,
        col(userCol).cast("string"), typeCol, steps, windowSec, watermark)
    }
  }

  private def liveImpl[K: scala.reflect.runtime.universe.TypeTag](
      events: DataFrame, tsCol: String,
      userExpr: org.apache.spark.sql.Column, typeCol: String,
      steps: Seq[String], windowSec: Long,
      watermark: String): DataFrame = {
    implicit val inEnc: org.apache.spark.sql.Encoder[StepIn[K]] =
      Encoders.product[StepIn[K]]
    implicit val keyEnc: org.apache.spark.sql.Encoder[(Long, K)] =
      Encoders.product[(Long, K)]
    implicit val outEnc: org.apache.spark.sql.Encoder[LiveOut[K]] =
      Encoders.product[LiveOut[K]]
    events
      .select(col(tsCol).as("__ts"), userExpr.as("u"),
        Funnel.stepIndex(col(typeCol), steps).as("s"))
      .where(col("s") >= 0)
      .withWatermark("__ts", watermark)
      .withColumn("t", expr("unix_micros(__ts) div 1000000"))
      .withColumn("ws", expr(s"(t div $windowSec) * $windowSec"))
      .select(col("ws"), col("u"), col("t"), col("s").cast("int").as("s"),
        col("__ts").as("ts"))
      .as[StepIn[K]]
      .groupByKey(r => (r.ws, r.u))
      .transformWithState(new LiveProc[K](steps.length, windowSec),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }
}
