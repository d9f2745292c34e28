package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.{Replay, Streams, StreamingCountWindows}

/** Streaming-mode equivalence: the same operator definitions, run as
  * Structured Streaming queries over the replayed events parquet, must agree
  * with their batch counterparts.
  */
class StreamingSpec extends SparkTestBase {

  private val aggs = Seq(
    AggSpec(AggFn.Cnt, col("value"), "cnt"),
    AggSpec(AggFn.Sum, col("value"), "sum_v", Some(4)))

  private val allFive = aggs ++ Seq(
    AggSpec(AggFn.Avg, col("value"), "avg_v", Some(4)),
    AggSpec(AggFn.Min, col("value"), "min_v"),
    AggSpec(AggFn.Max, col("value"), "max_v"))

  test("streaming sliding window agg (complete mode) == batch") {
    val stream = Streams.events(spark, sfDir)
    val out = Replay.drain(spark,
      Streams.windowAgg(stream, 3600, 60, Seq("event_type"), aggs),
      "s_sliding", "complete")
    val batch = TimeWindows.aggregate(
      Tables.events(spark, sfDir), col("ts"), 3600, 60, Seq("event_type"), aggs)
    assertSameRows(out, batch)
  }

  test("streaming tumbling agg with watermark (append mode) emits finalized windows == batch minus tail") {
    val stream = Streams.events(spark, sfDir)
    val out = Replay.drain(spark,
      Streams.windowAgg(stream, 600, 600, Seq("event_type"), aggs, watermark = Some("10 minutes")),
      "s_tumbling_append", "append")
    val batch = TimeWindows.aggregate(
      Tables.events(spark, sfDir), col("ts"), 600, 600, Seq("event_type"), aggs)
    // append emits exactly the windows finalized by the last watermark:
    // every emitted row must match batch, and all but the watermark tail emit.
    val maxTs = Tables.eventsWithEpoch(spark, sfDir).agg(max("es")).collect()(0).getLong(0)
    val watermarkCut = maxTs - 600
    val expected = batch.where(col("ws") + 600 <= lit(watermarkCut))
    assert(out.count() >= expected.count(), "append emitted fewer than finalized windows")
    assertSameRows(out, batch.where(col("ws").isin(
      out.select("ws").distinct().collect().map(_.getLong(0)).toSeq: _*)))
  }

  test("streaming count window (transformWithState) == batch full windows") {
    val stream = Streams.events(spark, sfDir)
    val out = StreamingCountWindows.tumbling(spark, stream, 10).toDF()
      .withColumn("sum_v", graft.operators.Quant.q4(col("sum_v")))
    val got = Replay.drain(spark, out, "s_count", "append")

    val batch = CountWindows.tumblingIds(
        Tables.eventsWithEpoch(spark, sfDir),
        Seq("user_id"), Seq(col("es"), col("event_id")), 10)
      .groupBy("user_id", "wid")
      .agg(count(lit(1)).as("cnt"), Quant.q4(sum(col("value"))).as("sum_v"))
      .where(col("cnt") === 10) // streaming emits only completed windows
    assertSameRows(got, batch)
  }

  test("streaming GLOBAL (un-keyed) count window == batch global full windows") {
    val stream = Streams.events(spark, sfDir)
    val out = StreamingCountWindows.tumblingGlobal(spark, stream, 100).toDF()
      .withColumn("sum_v", graft.operators.Quant.q4(col("sum_v")))
    val got = Replay.drain(spark, out, "s_count_global", "append")

    val batch = CountWindows.tumblingIds(
        Tables.eventsWithEpoch(spark, sfDir),
        Seq.empty, Seq(col("es"), col("event_id")), 100)
      .groupBy("wid")
      .agg(count(lit(1)).as("cnt"), Quant.q4(sum(col("value"))).as("sum_v"))
      .where(col("cnt") === 100) // streaming emits only completed windows
    assertSameRows(got, batch)
  }

  test("streaming generic sliding count window (size 50, slide 10) == batch slidingAgg") {
    val stream = Streams.events(spark, sfDir)
    val out = StreamingCountWindows.sliding(spark, stream, 50, 10).toDF()
      .withColumn("sum_v", graft.operators.Quant.q4(col("sum_v")))
    val got = Replay.drain(spark, out, "s_count_slide", "append")

    val batch = CountWindows.slidingAgg(
        Tables.eventsWithEpoch(spark, sfDir)
          .select(col("es"), col("event_id"), col("user_id"), col("value")),
        Seq("user_id"), Seq(col("es"), col("event_id")), 50, 10,
        Seq(AggSpec(AggFn.Cnt, col("value"), "cnt"),
            AggSpec(AggFn.Sum, col("value"), "sum_v", Some(4))))
    assertSameRows(got, batch)
  }

  test("RocksDB state store provider: streaming sliding agg still == batch") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = Streams.events(spark, sfDir)
      val out = Replay.drain(spark,
        Streams.windowAgg(stream, 3600, 60, Seq("event_type"), aggs),
        "s_sliding_rocks", "complete")
      val batch = TimeWindows.aggregate(
        Tables.events(spark, sfDir), col("ts"), 3600, 60, Seq("event_type"), aggs)
      assertSameRows(out, batch)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming stream-stream windowed theta join ⊆ batch join") {
    val e = Streams.events(spark, sfDir)
    val l = e.filter(col("event_type") === "click")
      .select(col("ts").as("l_ts"), col("event_id").as("l_id"), col("user_id"))
    val r = Streams.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("ts").as("r_ts"), col("event_id").as("r_id"),
        col("user_id").as("r_user"))
    val j = Streams.windowedThetaJoin(l, r, "l_ts", "r_ts", 600,
        col("user_id") === col("r_user"), "10 minutes")
      .select(col("user_id"), col("l_id"), col("r_id"))
    val got = Replay.drain(spark, j, "s_join", "append")

    val batchRows = graft.queries.ReferenceQueries.qJoinTheta
      .build(spark, sfDir).select("user_id", "l_id", "r_id")
    // streaming append may withhold pairs near the watermark tail; everything
    // emitted must be a batch pair
    val extra = got.exceptAll(batchRows).count()
    assert(extra == 0, s"streaming emitted $extra pairs not in batch result")
    assert(got.count() > 0)
  }

  test("streaming paned sliding agg (chained stateful aggs) emits finalized windows matching batch") {
    val stream = Streams.events(spark, sfDir)
    val out = Replay.drain(spark,
      Streams.windowAggPaned(stream, 3600, 60, Seq("event_type"), allFive, "10 minutes"),
      "s_paned", "append")
    val batch = TimeWindows.aggregatePaned(
      Tables.events(spark, sfDir), col("ts"), 3600, 60, Seq("event_type"), allFive)
    assert(out.count() > 0, "no finalized windows emitted")
    // everything emitted must match the batch result exactly
    assert(out.exceptAll(batch).count() == 0, "streaming paned emitted rows not in batch")
    // and the emitted set must cover all windows finalized by the watermark
    val maxTs = Tables.eventsWithEpoch(spark, sfDir).agg(max("es")).collect()(0).getLong(0)
    val finalized = batch.where(col("ws") + 3600 <= lit(maxTs - 600))
    assert(finalized.exceptAll(out).count() == 0, "a finalized window was not emitted")
  }

  test("sessions write checkpoints through one manager; withRocksDb installs it for its scope") {
    val (key, cls) = Streams.checkpointFiles
    assert(spark.conf.get(key) == cls)
    // a session built without the default, such as the benchmark harness's
    spark.conf.unset(key)
    try {
      Streams.withRocksDb(spark)(assert(spark.conf.get(key) == cls))
      assert(spark.conf.getOption(key).isEmpty)
    } finally spark.conf.set(key, cls)
  }
}
