package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.{GenerateExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.operators._

/** Pane-based two-level sliding aggregation must be result-identical to
  * Spark's native window() expansion — the core LightSaber-equivalence
  * invariant (SURVEY §2.4 A12/A13).
  */
class TimeWindowsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def src = Tables.events(spark, sfDir)

  private val allAggs = Seq(
    AggSpec(AggFn.Cnt, col("value"), "cnt"),
    AggSpec(AggFn.Sum, col("value"), "sum_v", Some(4)),
    AggSpec(AggFn.Avg, col("value"), "avg_v", Some(4)),
    AggSpec(AggFn.Min, col("value"), "min_v"),
    AggSpec(AggFn.Max, col("value"), "max_v"))

  test("paned == native, grouped sliding window") {
    assertSameRows(
      TimeWindows.aggregate(src, col("ts"), 3600, 60, Seq("event_type"), allAggs),
      TimeWindows.aggregatePaned(src, col("ts"), 3600, 60, Seq("event_type"), allAggs))
  }

  test("paned == native, binary key") {
    // the pane ring looks keys up by value: equal byte arrays are one key
    val bin = src.withColumn("k", col("event_type").cast("binary"))
    def keyAsString(df: org.apache.spark.sql.DataFrame) = df.withColumn("k", col("k").cast("string"))
    assertSameRows(
      keyAsString(TimeWindows.aggregate(bin, col("ts"), 3600, 60, Seq("k"), allAggs)),
      keyAsString(TimeWindows.aggregatePaned(bin, col("ts"), 3600, 60, Seq("k"), allAggs)))
  }

  test("paned == native, global sliding window with coarse gcd pane") {
    // size 1800 / slide 120 → pane = gcd = 120 < slide exercises pane<slide math.
    assertSameRows(
      TimeWindows.aggregate(src, col("ts"), 1800, 120, Seq.empty, allAggs),
      TimeWindows.aggregatePaned(src, col("ts"), 1800, 120, Seq.empty, allAggs))
  }

  test("paned == native, tumbling (size == slide)") {
    assertSameRows(
      TimeWindows.aggregate(src, col("ts"), 600, 600, Seq("event_type"), allAggs),
      TimeWindows.aggregatePaned(src, col("ts"), 600, 600, Seq("event_type"), allAggs))
  }

  test("sliding aggregatePaned plans no Generate and sorts on __pane only") {
    Seq(Seq("event_type"), Seq.empty[String]).foreach { keys =>
      val df = TimeWindows.aggregatePaned(src, col("ts"), 3600, 60, keys, allAggs)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case g: GenerateExec => g }.isEmpty, s"a Generate in\n$plan")
      val sorts = collect(plan) { case s: SortExec => s }
      assert(sorts.nonEmpty, s"no Sort in\n$plan")
      sorts.foreach { s =>
        val onPane = s.sortOrder.map(_.child) match {
          case Seq(a: Attribute) => a.name == "__pane"
          case _ => false
        }
        assert(!s.global && onPane, s"keys $keys: a sort on ${s.sortOrder} in\n$plan")
      }
    }
  }

  test("sliding window count: every row lands in size/slide windows") {
    val n = src.count()
    val expanded = TimeWindows.aggregate(src, col("ts"), 3600, 60, Seq.empty,
      Seq(AggSpec(AggFn.Cnt, col("value"), "cnt")))
    val total = expanded.agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == n * (3600 / 60), s"expected ${n * 60} window memberships, got $total")
  }

  test("epochSeconds is exact integer floor") {
    val got = Tables.eventsWithEpoch(spark, sfDir)
      .select(col("es"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) == Math.floorDiv(r.getLong(1), 1000000L))
    }
  }

  test("eventsWithEpoch floors pre-1970 sub-second events read from parquet") {
    import spark.implicits._
    val dir = freshDir("pre1970")
    // µs since the epoch: 1969-12-31 23:59:58.5, 23:59:59.999999, 1970-01-01 00:00:00.25
    Seq((1L, -1500000L), (2L, -1L), (3L, 250000L)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        lit(7L).as("user_id"), lit("view").as("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    val es = Tables.eventsWithEpoch(spark, dir).orderBy("event_id")
      .select("es").as[Long].collect().toSeq
    assert(es == Seq(-2L, -1L, 0L), s"floor epoch seconds, got $es")
  }
}
