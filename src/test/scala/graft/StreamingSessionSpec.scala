package graft

import org.apache.spark.sql.functions._
import graft.operators.{AggFn, AggSpec, SessionWindows}
import graft.streaming.{Replay, Streams}

/** Session windows in streaming mode: gap-merged per-key sessions with a
  * watermark must agree with the batch SessionWindows operator on every
  * emitted (finalized) session.
  */
class StreamingSessionSpec extends SparkTestBase {

  test("streaming session windows (append) ⊆ batch sessions, none invented") {
    val stream = Streams.events(spark, sfDir)
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "1800 seconds"), col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Quant.q4(sum(col("value"))).as("sum_v"))
      .select(unix_micros(col("session_window.start")).as("ss"),
        col("user_id"), col("cnt"), col("sum_v"))
    val got = Replay.drain(spark, stream, "s_session", "append")

    val batch = SessionWindows.aggregate(
      Tables.events(spark, sfDir), col("ts"), 1800,
      Seq("user_id"),
      Seq(AggSpec(AggFn.Cnt, col("value"), "cnt"),
          AggSpec(AggFn.Sum, col("value"), "sum_v", Some(4))))

    assert(got.count() > 0, "no sessions emitted")
    assert(got.exceptAll(batch).count() == 0,
      "streaming emitted a session not present in batch")
    // all but the watermark-tail sessions must be emitted
    assert(got.count() >= batch.count() / 2, "suspiciously few sessions emitted")
  }
}
