package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Replay, Streams}

/** J1 in streaming mode: a stream probing a static broadcast dimension
  * (YSB's shape — filter → project → static join → tumbling agg) must match
  * the batch fixture exactly in complete mode.
  */
class StreamingYsbSpec extends SparkTestBase {

  test("streaming static broadcast join + tumbling agg == batch YSB fixture") {
    val stream = Streams.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("ts"), col("es"), pmod(col("event_id"), lit(1000)).as("ad_id"))
    val campaigns = Tables.part(spark, sfDir).select(
      pmod(col("p_partkey"), lit(1000)).as("ad_id"),
      pmod(col("p_partkey"), lit(37)).as("campaign_id"))
    val joined = stream.join(broadcast(campaigns), "ad_id")
      .groupBy(window(col("ts"), "100 seconds"), col("campaign_id"))
      .agg(count(lit(1)).as("cnt"), max(col("es")).as("max_ts"))
      .select(col("window.start").cast("long").as("ws"), col("campaign_id"),
        col("cnt"), col("max_ts"))
    val got = Replay.drain(spark, joined, "s_ysb", "complete")
    val batch = queries.ReferenceQueries.qYsb.build(spark, sfDir)
    assertSameRows(got, batch)
  }
}
