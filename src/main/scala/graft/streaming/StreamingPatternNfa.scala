package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.operators.PatternNfa
import graft.operators.Pattern.RunStep

/** [[graft.operators.PatternNfa]]'s STREAMING twin — per-window
  * contiguous matching with OVERLAPPING step predicates on the live
  * append path. Unlike the flag-filtered funnel/pattern twins, EVERY
  * event flows into state: a no-step event is a contiguity BREAKER, so
  * dropping it would change the match (and, conveniently, the watermark
  * advances on every event — no trailing-step caveat).
  *
  * Shape: events keyed (tumbling window, key), per-key (t, mask) pairs
  * appended to ListState (mask evaluated once, pre-shuffle, by the SAME
  * [[PatternNfa.maskCol]] projection as the batch operator); ONE
  * event-time timer per key at the window's end. On expiry the state is
  * sorted by (t, mask) — the batch operator's exact order — and scanned
  * by the SHARED [[PatternNfa.scanKey]] NFA core, so batch and stream
  * agree event-for-event; the match (if any) emits exactly once and the
  * key's state is cleared. State per (window, key) = the window's
  * events, the sessionizer envelope, self-evicted by the timer.
  *
  * Keys are NATIVE-typed (the r18 verdict's seam #3): `groupByKey` runs
  * on the input column's own type for long/int/string keys — the output
  * `u` column keeps that type, no cast and no fixture cast-back. Any
  * other key type falls back to a string cast (documented, not silent:
  * the output column is then a string). Null keys are not supported for
  * primitive key types (the encoder would read null as 0) — filter them
  * upstream.
  */
object StreamingPatternNfa {

  case class EvIn[K](ws: Long, u: K, t: Long, mask: Int,
      ts: java.sql.Timestamp)
  case class NfaOut[K](ws: Long, u: K, m_start: Long, m_end: Long)

  private class Proc[K](m: Int, plus: Array[Boolean], windowSec: Long)
      extends StatefulProcessor[(Long, K), EvIn[K], NfaOut[K]] {
    @transient private var st: ListState[(Long, Int)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[(Long, Int)]("evs",
        Encoders.product[(Long, Int)], TTLConfig.NONE)
    override def handleInputRows(key: (Long, K), rows: Iterator[EvIn[K]],
        tv: TimerValues): Iterator[NfaOut[K]] = {
      // the window-close timer is armed with the key's first events and
      // clears them when it fires (see StreamingFunnel's LiveProc)
      if (!st.exists()) getHandle.registerTimer((key._1 + windowSec) * 1000L)
      st.appendList(rows.map(r => (r.t, r.mask)).toArray)
      Iterator.empty
    }
    override def handleExpiredTimer(key: (Long, K), tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[NfaOut[K]] = {
      val evs = st.get().toArray.sorted
      st.clear()
      PatternNfa.scanKey(evs.iterator, m, plus, windowSec) match {
        case Some((s, e)) => Iterator.single(NfaOut(key._1, key._2, s, e))
        case None => Iterator.empty
      }
    }
  }

  case class NfaAllOut[K](ws: Long, u: K, match_no: Long, m_start: Long,
      m_end: Long)

  /** [[Proc]]'s enumerating sibling: the window-close scan runs
    * [[PatternNfa.scanKeyAll]] — every non-overlapping match in the
    * closed window, numbered in time order (AFTER MATCH SKIP PAST LAST
    * ROW), exactly the batch [[PatternNfa.contiguousNfaAll]] contract
    * per (window, key). Same ListState envelope, same timer eviction.
    */
  private class AllProc[K](m: Int, plus: Array[Boolean], windowSec: Long)
      extends StatefulProcessor[(Long, K), EvIn[K], NfaAllOut[K]] {
    @transient private var st: ListState[(Long, Int)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[(Long, Int)]("evs",
        Encoders.product[(Long, Int)], TTLConfig.NONE)
    override def handleInputRows(key: (Long, K), rows: Iterator[EvIn[K]],
        tv: TimerValues): Iterator[NfaAllOut[K]] = {
      // the window-close timer is armed with the key's first events and
      // clears them when it fires (see StreamingFunnel's LiveProc)
      if (!st.exists()) getHandle.registerTimer((key._1 + windowSec) * 1000L)
      st.appendList(rows.map(r => (r.t, r.mask)).toArray)
      Iterator.empty
    }
    override def handleExpiredTimer(key: (Long, K), tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[NfaAllOut[K]] = {
      val evs = st.get().toArray.sorted
      st.clear()
      PatternNfa.scanKeyAll(evs.iterator, m, plus, windowSec).iterator
        .zipWithIndex.map { case ((s, e), i) =>
          NfaAllOut(key._1, key._2, (i + 1).toLong, s, e)
        }
    }
  }

  private def implAll[K: TypeTag](events: DataFrame, tsCol: String,
      keyExpr: org.apache.spark.sql.Column, steps: Seq[RunStep],
      windowSec: Long, watermark: String): DataFrame = {
    implicit val evEnc: Encoder[EvIn[K]] = Encoders.product[EvIn[K]]
    implicit val keyEnc: Encoder[(Long, K)] = Encoders.product[(Long, K)]
    implicit val outEnc: Encoder[NfaAllOut[K]] =
      Encoders.product[NfaAllOut[K]]
    events
      .select(col(tsCol).as("__ts"), keyExpr.as("u"),
        PatternNfa.maskCol(steps).as("mask"))
      .withWatermark("__ts", watermark)
      .withColumn("t", expr("unix_micros(__ts) div 1000000"))
      .withColumn("ws", expr(s"(t div $windowSec) * $windowSec"))
      .select(col("ws"), col("u"), col("t"),
        col("mask").cast("int").as("mask"), col("__ts").as("ts"))
      .as[EvIn[K]]
      .groupByKey(r => (r.ws, r.u))
      .transformWithState(new AllProc[K](steps.length,
        steps.map(_.plus).toArray, windowSec),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Append-mode (ws, u, match_no, m_start, m_end) per closed tumbling
    * window — ALL non-overlapping matches, numbered in time order; `u`
    * keeps the key column's native type (long/int/string; anything else
    * casts to string).
    */
  def allMatches(events: DataFrame, tsCol: String, keyCol: String,
      steps: Seq[RunStep], windowSec: Long,
      watermark: String = "0 seconds"): DataFrame =
    events.schema(keyCol).dataType match {
      case LongType =>
        implAll[Long](events, tsCol, col(keyCol), steps, windowSec,
          watermark)
      case IntegerType =>
        implAll[Int](events, tsCol, col(keyCol), steps, windowSec,
          watermark)
      case StringType =>
        implAll[String](events, tsCol, col(keyCol), steps, windowSec,
          watermark)
      case _ =>
        implAll[String](events, tsCol, col(keyCol).cast("string"), steps,
          windowSec, watermark)
    }

  private def impl[K: TypeTag](events: DataFrame, tsCol: String,
      keyExpr: org.apache.spark.sql.Column, steps: Seq[RunStep],
      windowSec: Long, watermark: String): DataFrame = {
    implicit val evEnc: Encoder[EvIn[K]] = Encoders.product[EvIn[K]]
    implicit val keyEnc: Encoder[(Long, K)] = Encoders.product[(Long, K)]
    implicit val outEnc: Encoder[NfaOut[K]] = Encoders.product[NfaOut[K]]
    events
      .select(col(tsCol).as("__ts"), keyExpr.as("u"),
        PatternNfa.maskCol(steps).as("mask"))
      .withWatermark("__ts", watermark)
      .withColumn("t", expr("unix_micros(__ts) div 1000000"))
      .withColumn("ws", expr(s"(t div $windowSec) * $windowSec"))
      .select(col("ws"), col("u"), col("t"),
        col("mask").cast("int").as("mask"), col("__ts").as("ts"))
      .as[EvIn[K]]
      .groupByKey(r => (r.ws, r.u))
      .transformWithState(new Proc[K](steps.length,
        steps.map(_.plus).toArray, windowSec),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Append-mode (ws, u, m_start, m_end) per closed tumbling window,
    * one row per key whose window contains a match; `u` keeps the key
    * column's native type (long/int/string; anything else casts to
    * string).
    */
  def firstMatch(events: DataFrame, tsCol: String, keyCol: String,
      steps: Seq[RunStep], windowSec: Long,
      watermark: String = "0 seconds"): DataFrame =
    events.schema(keyCol).dataType match {
      case LongType =>
        impl[Long](events, tsCol, col(keyCol), steps, windowSec, watermark)
      case IntegerType =>
        impl[Int](events, tsCol, col(keyCol), steps, windowSec, watermark)
      case StringType =>
        impl[String](events, tsCol, col(keyCol), steps, windowSec, watermark)
      case _ =>
        impl[String](events, tsCol, col(keyCol).cast("string"), steps,
          windowSec, watermark)
    }
}
