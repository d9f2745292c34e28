package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Source adapters mirroring the reference's ingestion surface (SURVEY §1.4):
  *
  *  - in-memory replay (reference BenchmarkQuery.h:144-259 replays byte
  *    vectors) → [[replay]] over MemoryStream: push typed rows in batches
  *    from a generator, the micro-bench ingestion path. A finite input
  *    replayed into one query, trigger by trigger, is
  *    [[graft.streaming.Replay]].
  *  - TCP text source (reference RemoteBenchmark/remoteSource.cpp) →
  *    [[socketEvents]]: Spark's socket source plus schema parsing. Line
  *    format: csv `event_id,ts_epoch_us,user_id,event_type,value`.
  *  - files (parquet) → graft.Tables (batch) / graft.streaming.Streams
  *    (file stream source).
  *
  * RDMA has no Spark analog (hardware transport) — out of scope by design.
  */
object Sources {

  case class EventRow(event_id: Long, es: Long, user_id: Long,
      event_type: String, value: Double)

  /** Typed in-memory replay stream; returns the stream handle (to push data)
    * and the DataFrame view with the standard events columns.
    */
  def replay(spark: SparkSession): (MemoryStream[EventRow], DataFrame) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val df = ms.toDF()
      .withColumn("ts", timestamp_micros(col("es") * 1000000L))
    (ms, df)
  }

  /** TCP line source parsed into the events schema — the remote-ingest
    * analog. Connects to host:port; each line is
    * `event_id,ts_epoch_us,user_id,event_type,value`. Parsed with the real
    * CSV parser (not a naive split), so quoted fields containing the
    * separator — exactly what [[Sinks.SocketForeachWriter]] emits for free
    * text — round-trip intact.
    */
  def socketEvents(spark: SparkSession, host: String, port: Int): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load()
      // escape = quote selects CSV-standard doubled-quote escaping (Spark's
      // default is backslash), matching what the sink emits
      .select(from_csv(col("value"), schema, Map("escape" -> "\"")).as("r"))
      .select(
        col("r.event_id").as("event_id"),
        timestamp_micros(col("r.ts_us")).as("ts"),
        col("r.user_id").as("user_id"),
        col("r.event_type").as("event_type"),
        col("r.value").as("value"))
  }
}
