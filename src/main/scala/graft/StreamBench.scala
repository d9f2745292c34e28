package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{AggFn, AggSpec}
import graft.sources.Sources
import graft.streaming.Streams

/** The stream replay helpers of [[graft.Bench]]'s stream block: the replay
  * payload, a tumbling-window micro-batch replay (the analog of the
  * reference's in-memory replay benchmark loop, reporting tuples/sec like
  * src/monitors/ThroughputMonitor.cpp) and the percentile of its per-batch
  * latencies (LatencyMonitor.cpp's marks). The sliding-stream benchmark is
  * `winbench/` (`stream_sliding_openloop`).
  */
object StreamBench {

  /** The replay payload, loaded once (bounded: sf0.1 = 100k rows). */
  def loadRows(spark: SparkSession, sfDir: String): Array[Sources.EventRow] = {
    import spark.implicits._
    Tables.eventsWithEpoch(spark, sfDir)
      .select(col("event_id"), col("es"), col("user_id"), col("event_type"), col("value"))
      .as[Sources.EventRow].collect()
  }

  /** The tumbling-window micro-batch replay core — graft.Bench's
    * streaming-throughput measurement (the reference's ThroughputMonitor
    * t/sec analog): replays `rows` `loops` times through a
    * MemoryStream → 600 s tumbling CNT+SUM, update mode, memory sink.
    * Returns (tuples, seconds, sorted per-batch trigger-to-commit ms).
    * Caller owns session conf (state-store provider); shuffle partitions are
    * pinned to 4 for the run and restored (state partitioning is fixed at
    * the query's first run, and kilobyte-scale window state wants few
    * partitions).
    */
  def tumblingReplay(
      spark: SparkSession, rows: Array[Sources.EventRow],
      loops: Int): (Long, Double, Seq[Long]) = {
    val (ms, df) = Sources.replay(spark)
    val agg = Streams.windowAgg(df, 600, 600, Seq("event_type"),
      Seq(AggSpec(AggFn.Cnt, col("value"), "cnt"),
          AggSpec(AggFn.Sum, col("value"), "sum_v")))
    Streams.withConf(spark, "spark.sql.shuffle.partitions" -> "4") {
      val q = agg.writeStream.outputMode("update")
        .format("memory").queryName(s"sb_out_${System.nanoTime}").start()
      val t0 = System.nanoTime()
      (1 to loops).foreach { _ =>
        rows.grouped(100000).foreach(c => ms.addData(c.toSeq))
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // per-batch trigger-to-commit latency (ms) — the replay analog of the
      // reference's piggybacked latency marks; empty maintenance batches
      // excluded
      val lat = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
        .sorted
      q.stop()
      (rows.length.toLong * loops, sec, lat)
    }
  }

  /** Percentile over the sorted latency samples (−1 when empty). */
  def pctOf(lat: Seq[Long], p: Double): Long =
    if (lat.isEmpty) -1L
    else lat(math.min(lat.length - 1, math.ceil(p * lat.length).toInt - 1).max(0))
}
