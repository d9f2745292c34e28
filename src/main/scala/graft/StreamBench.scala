package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{AggFn, AggSpec}
import graft.sources.Sources
import graft.streaming.Streams

/** Throughput + latency harness mirroring the reference's reporting
  * (src/monitors/ThroughputMonitor.cpp t/sec; LatencyMonitor.cpp percentile
  * marks piggybacked on batches, TaskDispatcher.cpp:341-355): replays the
  * events table at full speed through (a) the micro-batch streaming path
  * (MemoryStream → windowed agg, the analog of the reference's in-memory
  * replay benchmark loop) and (b) the batch path (same aggregation shape over
  * the parquet directly). Prints one JSON line with tuples/sec for both plus
  * p50/p95/p99 micro-batch latency (trigger-to-commit from
  * StreamingQueryProgress — ingestion-to-emit for a replayed batch).
  *
  * Streaming state lives in the RocksDB state store provider by default
  * (SPARK_GRAFT_STATE_STORE=memory flips back): keyed window/count state then
  * spills past heap, the 100 TB-posture configuration.
  */
object StreamBench {

  /** The replay payload, loaded once (bounded: sf0.1 = 100k rows). */
  def loadRows(spark: SparkSession, sfDir: String): Array[Sources.EventRow] = {
    import spark.implicits._
    Tables.eventsWithEpoch(spark, sfDir)
      .select(col("event_id"), col("es"), col("user_id"), col("event_type"), col("value"))
      .as[Sources.EventRow].collect()
  }

  /** The tumbling-window micro-batch replay core — the streaming-throughput
    * measurement both this main and graft.Bench report (the reference's
    * ThroughputMonitor t/sec analog): replays `rows` `loops` times through a
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "rocksdb") match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "memory" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case other => other // allow a fully-qualified class
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass", provider)
      // with the default rocksdb provider, these settings are the posture
      // of Streams.withRocksDb, which graft.Bench's stream block runs
      // under, so this standalone main is a fresh-JVM cross-check of it
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.ui.enabled", "false")
      .config(Map(Streams.checkpointFiles))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rows = loadRows(spark, sfDir)

    // warmup: codegen + a short UNTIMED replay so the measured run sees a
    // JIT-warm micro-batch path (a single cold run under-reads throughput
    // ~25% and over-reads the p99 tail — not comparable to Bench's
    // post-prelude stream block otherwise)
    val loops = sys.env.getOrElse("SPARK_GRAFT_LOOPS", "20").toInt
    spark.range(1000000L).selectExpr("sum(id)").collect()
    tumblingReplay(spark, rows, math.max(2, loops / 5))

    // (a) streaming micro-batch replay: tumbling window CNT+SUM by type.
    // Replay the table `loops` times (the reference loops its dataset for
    // DURATION seconds the same way) so per-tuple cost dominates the
    // micro-batch fixed overhead.
    val (n, streamSec, lat) = tumblingReplay(spark, rows, loops)
    def pct(p: Double): Long = pctOf(lat, p)

    // (b) batch path, same shape, over the same replayed volume.
    val replicated = spark.range(loops).crossJoin(Tables.events(spark, sfDir))
    val t1 = System.nanoTime()
    graft.operators.TimeWindows.aggregate(
        replicated, col("ts"), 600, 600, Seq("event_type"),
        Seq(AggSpec(AggFn.Cnt, col("value"), "cnt"),
            AggSpec(AggFn.Sum, col("value"), "sum_v")))
      .write.format("noop").mode("overwrite").save()
    val batchSec = (System.nanoTime() - t1) / 1e9

    // (c) SLIDING windows — the reference's headline workload (LightSaber's
    // contribution is pane-based sliding aggregation): native window() vs the
    // paned two-level decomposition, same 3600/60 shape as the CM/SG
    // benchmarks, streamed with a watermark so state is evictable. Fewer
    // loops: per-tuple work is 60× the tumbling case for the native path.
    // The paned path pays a second stateful stage (an extra shuffle and
    // state commits per batch) for a 60× smaller pre-aggregation
    // expansion; both numbers are reported so the trade-off stays
    // measured, not assumed.
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val slideLoops = math.max(1, loops / 10)
    def slidingRun(paned: Boolean): Double = {
      val (ms2, df2) = Sources.replay(spark)
      val aggs2 = Seq(AggSpec(AggFn.Cnt, col("value"), "cnt"),
        AggSpec(AggFn.Sum, col("value"), "sum_v"))
      val out =
        if (paned) Streams.windowAggPaned(df2, 3600, 60, Seq("event_type"), aggs2, "0 seconds")
        else Streams.windowAgg(df2, 3600, 60, Seq("event_type"), aggs2, Some("0 seconds"))
      val qn = if (paned) "sb_slide_paned" else "sb_slide_native"
      val q2 = out.writeStream.outputMode("append").format("memory").queryName(qn).start()
      val t = System.nanoTime()
      (1 to slideLoops).foreach { _ =>
        rows.grouped(100000).foreach(c => ms2.addData(c.toSeq))
        q2.processAllAvailable()
      }
      val sec = (System.nanoTime() - t) / 1e9
      q2.stop()
      sec
    }
    val nativeSec = slidingRun(paned = false)
    val panedSec = slidingRun(paned = true)
    val nSlide = rows.length.toLong * slideLoops

    println(s"""{"metric":"throughput","tuples":$n,""" +
      s""""stream_sec":$streamSec,"stream_tps":${(n / streamSec).toLong},""" +
      s""""batch_sec":$batchSec,"batch_tps":${(n / batchSec).toLong},""" +
      s""""sliding_native_tps":${(nSlide / nativeSec).toLong},""" +
      s""""sliding_paned_tps":${(nSlide / panedSec).toLong},""" +
      s""""latency_ms":{"p50":${pct(0.50)},"p95":${pct(0.95)},"p99":${pct(0.99)}},""" +
      s""""state_store":"${provider.split('.').last}","sf":"$sfDir"}""")
    spark.stop()
  }
}
