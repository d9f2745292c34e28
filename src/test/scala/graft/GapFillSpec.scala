package graft

import org.apache.spark.sql.functions._
import graft.operators.{AggFn, AggSpec, GapFill, Quant, TimeWindows}
import graft.streaming.{Streams, StreamingGapFill}

class GapFillSpec extends SparkTestBase {

  test("gaps between a key's first and last window emit cnt=0, sum=NULL") {
    import spark.implicits._
    val agg = Seq(
      ("a", 0L, 3L, 30.0), ("a", 1800L, 2L, 20.0),   // gap at 600, 1200
      ("b", 600L, 1L, 10.0))                          // single window, no gap
      .toDF("k", "ws", "cnt", "sum_v")
      .where(col("ws") =!= 600L || col("k") === "b")  // keep a: 0,1800; b: 600
    val filled = GapFill.fill(agg, "ws", 600L, Seq("k"), Seq("cnt"))
      .as[(String, Long, Long, Option[Double])].collect().toSet
    assert(filled == Set(
      ("a", 0L, 3L, Some(30.0)),
      ("a", 600L, 0L, None),
      ("a", 1200L, 0L, None),
      ("a", 1800L, 2L, Some(20.0)),
      ("b", 600L, 1L, Some(10.0))), s"unexpected fill: $filled")
  }

  test("global (key-less) aggregate gap-fills over its full span") {
    import spark.implicits._
    val agg = Seq((0L, 5L), (1200L, 7L)).toDF("ws", "cnt")
    val filled = GapFill.fill(agg, "ws", 600L, Seq.empty, Seq("cnt"))
      .as[(Long, Long)].collect().toSet
    assert(filled == Set((0L, 5L), (600L, 0L), (1200L, 7L)))
  }

  test("watermark-driven close: quiet keys close in-flight windows and emit trailing bubbles") {
    import spark.implicits._
    val sizeSec = 3600L
    val sizeMs = sizeSec * 1000L
    val evB = Tables.events(spark, sfDir).where(col("user_id") % 199 === 0)
    // the final watermark (delay 0) = max event time in ms; every window with
    // end ≤ watermark must close, row-driven or not
    val wmMs = evB.agg(max(unix_micros(col("ts")))).as[Long].head() / 1000L
    val wMaxWs = Math.floorDiv(wmMs - sizeMs, sizeMs) * sizeSec // last closeable ws

    val batch = GapFill.fill(
      TimeWindows.aggregate(evB,
        col("ts"), 3600, 3600, Seq("event_type"),
        Seq(AggSpec(AggFn.Cnt, col("value"), "cnt"),
            AggSpec(AggFn.Sum, col("value"), "sum_v", Some(4)))),
      "ws", 3600, Seq("event_type"), Seq("cnt"))
    val closed = batch.where((col("ws") + sizeSec) * 1000L <= wmMs)
    // per key: bubbles continue past its last real window up to the watermark
    val bubbles = batch.groupBy("event_type").agg(max("ws").as("lastWs"))
      .as[(String, Long)].collect().toSeq
      .flatMap { case (k, lastWs) =>
        ((lastWs + sizeSec) to wMaxWs by sizeSec)
          .map(w => (w, k, 0L, Option.empty[Double]))
      }
    val expected = closed.unionByName(
      bubbles.toDF("ws", "event_type", "cnt", "sum_v"))
    assert(bubbles.nonEmpty,
      "fixture degenerate: every key is active up to the watermark")

    val stream = Streams.events(spark, sfDir).where(col("user_id") % 199 === 0)
    val out = StreamingGapFill.tumblingWithBubbles(spark, stream, sizeSec).toDF()
      .withColumn("sum_v", Quant.q4(col("sum_v"))) // null stays null on bubbles
      .select("ws", "event_type", "cnt", "sum_v")
    Streams.withRocksDb(spark) {
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("s_gapfill").start()
      try {
        q.processAllAvailable()
        // the timer close lands in a no-data micro-batch after the watermark
        // advances; poll for it rather than racing processAllAvailable
        val want = expected.count()
        val deadline = System.currentTimeMillis() + 30000
        while (System.currentTimeMillis() < deadline &&
          spark.table("s_gapfill").count() < want) Thread.sleep(200)
      } finally q.stop()
    }
    val got = spark.table("s_gapfill")
    assertSameRows(got, expected)
    assert(got.where(col("cnt") === 0).count() > 0, "no bubble windows exercised")
  }

  test("fired timers re-arm without deleting themselves: no TimerStateImpl warnings") {
    import graft.sources.Sources
    import spark.implicits._
    val (ms, df) = Sources.replay(spark)
    val out = StreamingGapFill
      .tumblingWithBubbles(spark, df.select(col("event_type"), col("es"), col("value"), col("ts")), 600L)
      .toDF().select("event_type", "ws", "cnt", "sum_v")
    val warnings = timerWarnings {
      Streams.withRocksDb(spark) {
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName("s_gapfill_timers").start()
        try {
          ms.addData(Sources.EventRow(1, 100, 1, "a", 1.0), Sources.EventRow(2, 100, 1, "b", 2.0))
          q.processAllAvailable()
          // the watermark moves to 3000: key b gets no row, so only its
          // timers close its windows 0..2400, one fired timer each
          ms.addData(Sources.EventRow(3, 3000, 1, "a", 4.0))
          q.processAllAvailable()
          val deadline = System.currentTimeMillis() + 30000
          while (System.currentTimeMillis() < deadline &&
            spark.table("s_gapfill_timers").where(col("event_type") === "b").count() < 5)
            Thread.sleep(200)
        } finally q.stop()
      }
    }
    val b = spark.table("s_gapfill_timers").where(col("event_type") === "b")
      .as[(String, Long, Long, Option[Double])].collect().toSet
    assert(b == Set(("b", 0L, 1L, Some(2.0))) ++ (600L to 2400L by 600L).map(w => ("b", w, 0L, None)),
      s"key b: $b")
    assert(warnings.isEmpty, s"${warnings.length} timer warnings, first: ${warnings.headOption}")
  }

  test("lateness bound > 0: out-of-order rows within the bound are counted; windows close on watermark only") {
    import graft.sources.Sources
    val (ms, df) = Sources.replay(spark)
    val stream = df.select(col("event_type"), col("es"), col("value"), col("ts"))
    val out = StreamingGapFill
      .tumblingWithBubbles(spark, stream, 600L, watermarkDelaySec = 600L).toDF()
      .select("event_type", "ws", "cnt", "sum_v")
    Streams.withRocksDb(spark) {
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("s_gapfill_ooo").start()
      try {
        // batch 1: windows 0 and 1 both open; the in-order fast path would
        // close window 0 on the es=1100 row — the delayed regime must not
        ms.addData(Sources.EventRow(1, 100, 1, "a", 1.0),
                   Sources.EventRow(2, 1100, 1, "a", 4.0))
        q.processAllAvailable()
        // batch 2: OUT-OF-ORDER row for window 0, within the 600 s bound
        // (watermark is 1100 − 600 = 500 ≤ 550) — must be counted, not dropped
        ms.addData(Sources.EventRow(3, 550, 1, "a", 2.0))
        q.processAllAvailable()
        // batch 3: advance the watermark to 3000 − 600 = 2400 — windows 0..3
        // (ends 600/1200/1800/2400 ≤ 2400) close; window 4 stays open
        ms.addData(Sources.EventRow(4, 3000, 1, "a", 9.0))
        q.processAllAvailable()
        // timer closes land in a no-data micro-batch; poll for them
        val deadline = System.currentTimeMillis() + 30000
        while (System.currentTimeMillis() < deadline &&
          spark.table("s_gapfill_ooo").count() < 4) Thread.sleep(200)
      } finally q.stop()
    }
    import spark.implicits._
    val got = spark.table("s_gapfill_ooo")
      .as[(String, Long, Long, Option[Double])].collect().toSet
    assert(got == Set(
      ("a", 0L, 2L, Some(3.0)),    // es 100 + the out-of-order es 550
      ("a", 600L, 1L, Some(4.0)),
      ("a", 1200L, 0L, None),      // trailing bubbles up to the watermark
      ("a", 1800L, 0L, None)), s"got $got")
  }

  test("bounded out-of-order stream (delay 600s): closed windows == batch GapFill exactly") {
    import graft.sources.Sources
    import spark.implicits._
    val sizeSec = 600L
    val delaySec = 600L
    // two keys, es stepping 37 s with two multi-window gaps; arrival order =
    // es + deterministic jitter < delay/2, so every row is out-of-order by
    // up to ~300 s yet provably within the 600 s bound EVEN ACROSS the time
    // gaps (when r arrives, maxEsSeen ≤ release(r) ≤ es(r) + 300, so the
    // watermark maxEsSeen − 600 stays below es(r))
    // es starts at 600, not 0: a row AT event-time epoch 0 ties Spark's
    // INITIAL watermark (0 ms) and is dropped by the stateful operator's
    // standard late-row filter before ours ever sees it
    val inOrder = for {
      (key, off) <- Seq(("a", 0L), ("b", 11L))
      es <- (600L until 7800L by 37L)
      if !(es >= 1800 && es < 3000) && !(es >= 5400 && es < 6000)
    } yield Sources.EventRow(es, es + off, 1, key, (es % 13).toDouble)
    val rows = inOrder.sortBy(r => r.es + (r.es * 7919) % 300)

    val (ms, df) = Sources.replay(spark)
    val stream = df.select(col("event_type"), col("es"), col("value"), col("ts"))
    val out = StreamingGapFill
      .tumblingWithBubbles(spark, stream, sizeSec, watermarkDelaySec = delaySec).toDF()
      .withColumn("sum_v", Quant.q4(col("sum_v")))
      .select("event_type", "ws", "cnt", "sum_v")
    Streams.withRocksDb(spark) {
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("s_gapfill_prop").start()
    try {
      rows.grouped(16).foreach { batch => ms.addData(batch: _*); q.processAllAvailable() }
      // final watermark = max ts − delay; poll for the timeout closes
      val maxEs = rows.map(_.es).max
      val wmMs = (maxEs - delaySec) * 1000L
      val batchAgg = inOrder.toDF("event_id", "es", "user_id", "event_type", "value")
        .groupBy(col("event_type"), (col("es") - pmod(col("es"), lit(sizeSec))).as("ws"))
        .agg(count(lit(1)).as("cnt"), Quant.q4(sum(col("value"))).as("sum_v"))
      val expected = graft.operators.GapFill.fill(
          batchAgg, "ws", sizeSec, Seq("event_type"), Seq("cnt"))
        .where((col("ws") + sizeSec) * 1000L <= wmMs)
        .select("event_type", "ws", "cnt", "sum_v")
      val want = expected.count()
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        spark.table("s_gapfill_prop").count() < want) Thread.sleep(200)
      val got = spark.table("s_gapfill_prop")
      assertSameRows(got, expected)
      assert(got.where(col("cnt") === 0).count() > 0, "no bubbles exercised")
    } finally q.stop()
    }
  }
}
