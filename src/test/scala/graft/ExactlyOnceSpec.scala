package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.{Replay, Streams, StreamingCountWindows}

/** Scabbard-parity evidence (SURVEY §2.7): exactly-once across restart is
  * Structured Streaming checkpointing + replayable source + idempotent sink.
  * The reference builds persistent buffers/lineage/checkpoints for this
  * (src/checkpoint/); here it must simply *hold*: a checkpointed query
  * stopped and restarted with more data must emit every finalized window
  * exactly once — no duplicates from replay, no losses from the restart.
  */
class ExactlyOnceSpec extends SparkTestBase {

  test("checkpointed streaming agg survives restart without dupes or losses") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_eos").toString
    val srcDir = s"$base/src"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(srcDir))

    val all = Tables.eventsWithEpoch(spark, sfDir)
      .select("event_id", "es", "user_id", "event_type", "value")
    val mid = all.agg(expr("percentile_approx(event_id, 0.5)")).collect()(0).getLong(0)
    all.where(col("event_id") <= mid).coalesce(1).write.mode("overwrite")
      .parquet(s"$srcDir/part1")

    def schema = all.schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$srcDir/*")
        .withColumn("ts", timestamp_micros(col("es") * 1000000L))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "600 seconds"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").cast("long").as("ws"), col("event_type"), col("cnt"))
      val q = stream.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    runOnce() // first half
    all.where(col("event_id") > mid).coalesce(1).write.mode("overwrite")
      .parquet(s"$srcDir/part2")
    runOnce() // restart from checkpoint with second half present

    val got = spark.read.parquet(outDir)
    // exactly-once: no window emitted twice
    assert(got.groupBy("ws", "event_type").count().where(col("count") > 1).count() == 0,
      "duplicate window emissions after restart")
    // correctness: everything emitted matches the batch ground truth
    // (windows are second-granular here, so batch buckets the same es-second
    // timestamps the stream windows)
    val batch = all
      .withColumn("ws", TimeWindows.epochBucket(timestamp_micros(col("es") * 1000000L), 600))
      .groupBy("ws", "event_type").agg(count(lit(1)).as("cnt"))
    assert(got.exceptAll(batch).count() == 0, "emitted windows disagree with batch")
    // completeness: every window finalized by the last watermark was emitted
    val maxEs = all.agg(max("es")).collect()(0).getLong(0)
    val finalized = batch.where(col("ws") + 600 <= maxEs - 600)
    assert(got.count() >= finalized.count(),
      s"missing finalized windows: emitted ${got.count()} < ${finalized.count()}")
  }

  test("checkpointed paned sliding agg on RocksDB survives restart without dupes or losses") {
    val base = Files.createTempDirectory("graft_eos_paned").toString
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(srcDir))
    val all = Tables.eventsWithEpoch(spark, sfDir).select("es", "event_type", "value")
    // split on event time: with watermark delay 0, a second-half row older
    // than the first half's last event would be late, not lost to the restart
    val mid = all.agg(expr("percentile_approx(es, 0.5)")).collect()(0).getLong(0)
    all.where(col("es") <= mid).coalesce(1).write.parquet(s"$srcDir/part1")
    val aggs = Seq(AggSpec(AggFn.Cnt, col("value"), "cnt"),
      AggSpec(AggFn.Sum, col("value"), "sum_v", Some(4)))
    val outDir = s"$base/out"

    def runOnce(): Unit = Streams.withRocksDb(spark) {
      val stream = spark.readStream.schema(all.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$srcDir/*")
        .withColumn("ts", timestamp_seconds(col("es")))
      val q = Streams.windowAggPaned(stream, 3600, 600, Seq("event_type"), aggs, "0 seconds")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    runOnce() // first half: panes and windows still open when it stops
    val firstRun = spark.read.parquet(outDir).count()
    all.where(col("es") > mid).coalesce(1).write.parquet(s"$srcDir/part2")
    runOnce() // restart from the checkpoint with the second half present
    val emitted = spark.read.parquet(outDir)
    assert(firstRun > 0 && emitted.count() > firstRun,
      s"emitted $firstRun, then ${emitted.count()}")

    // exactly once: no window emitted twice, across the restart too
    assert(emitted.groupBy("ws", "event_type").count().where(col("count") > 1).isEmpty,
      "duplicate window emissions after restart")
    // and exactly the windows the final watermark (max event time) finalized,
    // equal to the batch pane path
    val maxEs = all.agg(max("es")).collect()(0).getLong(0)
    val batch = TimeWindows.aggregatePaned(all.withColumn("ts", timestamp_seconds(col("es"))),
        col("ts"), 3600, 600, Seq("event_type"), aggs)
      .where(col("ws") + 3600 <= maxEs)
    assertSameRows(emitted, batch)
  }

  test("streaming sliding count window == batch trailing aggregate") {
    val stream = Streams.events(spark, sfDir)
    val out = StreamingCountWindows.slidingTrailingAvg(spark, stream, 50).toDF()
    val got = Replay.drain(spark, out, "s_slide_cnt", "append")

    val f = CountWindows.frame(Seq("user_id"), Seq(col("es"), col("event_id")), 50)
    val batch = Tables.eventsWithEpoch(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        (sum(col("value")).over(f) / count(col("value")).over(f)).as("avg_w"))
    assertSameRows(got, batch)
  }
}
