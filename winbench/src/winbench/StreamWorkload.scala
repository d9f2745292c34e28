package winbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{AggFn, AggSpec}
import graft.sources.Sources
import graft.sources.Sources.EventRow
import graft.streaming.Streams

/** Open-loop sliding-window stream.
  *
  * One generator thread pushes events into `Sources.replay` at a fixed rate;
  * event i is due at t0 + i / Rate and carries that due time as its event
  * time, on a clock where one wall second is `Scale` event seconds. The
  * query is `Streams.windowAggPaned` with 60 panes per window (size 60,
  * slide 1 event seconds), SUM and CNT by key, append mode, watermark 0,
  * RocksDB state. A closed-loop drain of a fixed backlog in fixed-size
  * chunks follows, then a far-future sentinel flushes every window, and
  * the emitted windows are compared with a plain-Scala fold.
  */
object StreamWorkload {
  val Rate = 1800            // offered events per wall second: a third of the drain capacity
  val Scale = 10             // event seconds per wall second
  val SizeS = 60L            // window size, event seconds
  val SlideS = 1L            // window slide, event seconds (= pane)
  val Keys = 16
  val TickMs = 50            // generator push period
  val WarmChunks = Seq(2000, 4000, 4000, 2000, 2000)   // untimed warm-up, closed loop
  val DrainChunk = 8000      // closed-loop drain chunk, events
  val DrainChunks = 5
  val Es0 = 1700000000L      // event-time origin of the open-loop phase

  final case class Events(rows: Array[EventRow], warm: Int, open: Int, drain: Int)

  def generate(seed: Long, openSeconds: Double): Events = {
    val open = (Rate * openSeconds).toInt
    val drain = DrainChunk * DrainChunks
    val rnd = new java.util.Random(seed)
    val types = Array("view", "click", "purchase", "signup", "error")
    def row(i: Int, es: Long) = EventRow(i.toLong, es, rnd.nextInt(Keys).toLong,
      types(rnd.nextInt(types.length)), (1 + rnd.nextInt(100)).toDouble)
    // warm-up events precede the open-loop phase in event time
    val warm = WarmChunks.sum
    val warmRows = (0 until warm).map(j => row(j, Es0 - 10 * SizeS + j * 9L * SizeS / warm))
    val rest = (0 until open + drain).map(k => row(warm + k, Es0 + k.toLong * Scale / Rate))
    Events((warmRows ++ rest).toArray, warm, open, drain)
  }

  /** One emitted window result and the nanoTime its trigger delivered it. */
  final case class Emit(batch: Long, emitNs: Long, ws: Long, key: Long, sum: Double, cnt: Long)

  final class Running(val ms: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventRow],
      val query: StreamingQuery, val emits: ConcurrentLinkedQueue[Emit])

  def start(ctx: Ctx, name: String): Running = {
    val (ms, df) = Sources.replay(ctx.spark)
    val agg = ctx.trace.span("operators.build") {
      Streams.windowAggPaned(df, SizeS, SlideS, Seq("user_id"),
        Seq(AggSpec(AggFn.Sum, col("value"), "sum_v"), AggSpec(AggFn.Cnt, col("value"), "cnt")),
        "0 seconds")
    }
    val emits = new ConcurrentLinkedQueue[Emit]
    val sink: (DataFrame, Long) => Unit = (batch, id) =>
      ctx.trace.span("sink.collect") {
        val rows = batch.collect()
        val t = System.nanoTime()
        rows.foreach(r => emits.add(Emit(id, t, r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))))
      }
    val q = ctx.trace.span("streaming.start") {
      agg.writeStream.outputMode("append")
        .option("checkpointLocation", ctx.dir(s"checkpoint-$name").getAbsolutePath)
        .foreachBatch(sink)
        .start()
    }
    new Running(ms, q, emits)
  }

  def push(ctx: Ctx, r: Running, rows: Seq[EventRow]): Unit =
    ctx.trace.span("sources.add_data") { r.ms.addData(rows); () }

  def settle(ctx: Ctx, r: Running): Unit =
    ctx.trace.span("streaming.process_all") { r.query.processAllAvailable() }

  def run(ctx: Ctx): Map[String, Any] = Streams.withRocksDb(ctx.spark) {
    val openSeconds = ctx.seconds
    val (ev, rounds) = Clock.setupRounds(3)(generate(ctx.seed, openSeconds))
    // Untimed warm-up: the measured query's start and its first events,
    // pushed in chunks, closed loop.
    val (r, warmupS) = Clock.secondsOf {
      val r = start(ctx, "timed")
      WarmChunks.scanLeft(0)(_ + _).sliding(2).foreach { case Seq(a, b) =>
        push(ctx, r, ev.rows.slice(a, b).toSeq)
        settle(ctx, r)
      }
      r
    }
    val warmBatches = r.query.recentProgress.length

    // ---- open-loop phase
    val openRows = ev.rows.slice(ev.warm, ev.warm + ev.open)
    val ticks = (ev.open.toLong * 1000 / Rate / TickMs + 2).toInt
    val pushNs = new Array[Long](ticks)    // per push: completion, ns after t0
    val pushDue = new Array[Long](ticks)   // per push: its scheduled tick
    val pushEnd = new Array[Int](ticks)    // per push: events pushed so far
    var pushes = 0
    val tickNs = TickMs * 1000000L
    val t0Ms = System.currentTimeMillis() + 100
    val t0 = System.nanoTime() + 100000000L
    // At the end of tick k, push every event due before it (event i is due
    // i / Rate seconds after t0). A late tick pushes all that is due.
    val generator = new Thread(() => ctx.trace.span("bench.generator") {
      var sent = 0
      var k = 1
      while (sent < openRows.length) {
        val at = t0 + k * tickNs
        var now = System.nanoTime()
        while (now < at) { LockSupport.parkNanos(at - now); now = System.nanoTime() }
        val due = math.min(openRows.length.toLong, (k * tickNs * Rate + 999999999L) / 1000000000L).toInt
        if (due > sent) {
          push(ctx, r, openRows.slice(sent, due).toSeq)
          pushNs(pushes) = System.nanoTime() - t0
          pushDue(pushes) = k * tickNs
          pushEnd(pushes) = due
          pushes += 1
          sent = due
        }
        k += 1
      }
    }, "winbench-generator")
    val timedStart = System.nanoTime()
    ctx.trace.span("bench.open_loop") {
      generator.start()
      generator.join()
    }
    val phaseEndNs = System.nanoTime() - t0
    val openBatches = r.query.recentProgress.length

    // ---- closed-loop drain
    settle(ctx, r)
    val before = ctx.probe.map(_.snapshot())
    val drainRows = ev.rows.slice(ev.warm + ev.open, ev.rows.length)
    val chunkS = drainRows.grouped(DrainChunk).map { c =>
      ctx.trace.span("bench.pass") {
        Clock.secondsOf { push(ctx, r, c.toSeq); settle(ctx, r) }._2
      }
    }.toVector
    val drainCounts = for (b <- before; a <- ctx.probe.map(_.snapshot())) yield Probe.delta(b, a)
    val stateRowsTotal = r.query.lastProgress.stateOperators.map(_.numRowsTotal).sum
    ctx.trace.record("bench.timed", 0L, timedStart, System.nanoTime())

    // ---- flush: a far-future sentinel closes every window (not checked)
    val lastEs = ev.rows.last.es
    Seq(1, 2).foreach { j =>
      push(ctx, r, Seq(EventRow(-j.toLong, lastEs + 10 * SizeS, 0L, "view", 0.0)))
      settle(ctx, r)
    }
    val queryProgress = r.query.recentProgress.toSeq.map(Probe.progressRow)
    r.query.stop()

    val emits = r.emits.asScala.toVector
    val want = fold(ev)
    val mismatches = check(want, emits)
    val expected = want.size

    Map(
      "setup_rounds_s" -> rounds,
      "warmup_s" -> warmupS,
      "attempted" -> expected,
      "failed" -> mismatches,
      "checks" -> Map(
        "windows_expected" -> expected,
        "windows_emitted" -> emits.size,
        "window_mismatches" -> mismatches),
      "correct" -> (mismatches == 0),
      "pass_s" -> chunkS,
      "eps" -> chunkS.map(DrainChunk / _),
      "inputs" -> Map("offered_eps" -> Rate, "scale_event_s_per_wall_s" -> Scale,
        "window_size_event_s" -> SizeS, "slide_event_s" -> SlideS, "keys" -> Keys,
        "warm_events" -> ev.warm, "open_events" -> ev.open, "drain_events" -> ev.drain,
        "drain_chunk_events" -> DrainChunk, "open_seconds" -> openSeconds),
      "stream" -> Map(
        "rate" -> Rate, "size" -> SizeS, "t0_ms" -> t0Ms, "phase_end_ns" -> phaseEndNs,
        "tick_ms" -> TickMs, "open_events" -> ev.open,
        "open_keys" -> openRows.map(_.user_id), "open_es" -> openRows.map(_.es),
        "push_ns" -> pushNs.take(pushes), "push_due_ns" -> pushDue.take(pushes),
        "push_end" -> pushEnd.take(pushes),
        "emit_ns" -> emits.map(_.emitNs - t0), "emit_ws" -> emits.map(_.ws),
        "emit_key" -> emits.map(_.key), "emit_batch" -> emits.map(_.batch),
        "warm_batches" -> warmBatches, "open_batches" -> openBatches,
        "warm_events" -> ev.warm, "progress" -> queryProgress),
      "counts" -> drainCounts.getOrElse(Map.empty),
      "state_rows_total" -> stateRowsTotal)
  }

  /** Plain-Scala reference: per key, per event second, then each sliding
    * window as a difference of prefix sums. Sentinels (negative ids) are
    * excluded; windows with no events are not results.
    */
  def fold(ev: Events): Map[(Long, Long), (Double, Long)] = {
    val rows = ev.rows.filter(_.event_id >= 0)
    val lo = rows.map(_.es).min
    val hi = rows.map(_.es).max
    val span = (hi - lo + 1).toInt
    val out = Map.newBuilder[(Long, Long), (Double, Long)]
    rows.groupBy(_.user_id).foreach { case (key, rs) =>
      val cnt = new Array[Long](span + 1)
      val sum = new Array[Double](span + 1)
      rs.foreach { e => val i = (e.es - lo).toInt + 1; cnt(i) += 1; sum(i) += e.value }
      for (i <- 1 to span) { cnt(i) += cnt(i - 1); sum(i) += sum(i - 1) }
      def upTo(s: Long): Int = math.max(0, math.min(span, (s - lo).toInt))
      var ws = lo - SizeS + 1
      while (ws <= hi) {
        val (a, b) = (upTo(ws), upTo(ws + SizeS))
        if (cnt(b) > cnt(a)) out += (ws, key) -> (sum(b) - sum(a), cnt(b) - cnt(a))
        ws += SlideS
      }
    }
    out.result()
  }

  /** Expected windows missing, wrong, duplicated or unexpected. */
  def check(want: Map[(Long, Long), (Double, Long)], emits: Seq[Emit]): Long = {
    val got = emits.groupBy(e => (e.ws, e.key))
    val dup = got.count(_._2.size > 1)
    val extra = got.keySet.count(k => !want.contains(k))
    val bad = want.count { case (k, (s, c)) =>
      got.get(k).forall(es => es.head.sum != s || es.head.cnt != c)
    }
    (dup + extra + bad).toLong
  }
}
