package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All tables are read straight from parquet so Catalyst keeps scan-level
  * pushdown (PushedFilters) and column pruning (ReadSchema). Never cache here:
  * fixture queries must exercise the scan path the way a 100 TB run would.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** `events.ts` has shipped in two physical forms across driver data drops:
    * TIMESTAMP(NANOS) parquet (readable only as a raw long via the
    * nanosAsLong legacy conf) and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Normalize either to a µs
    * TimestampType column — `ns div 1000` truncation matches DuckDB's ns→µs
    * cast, and the NTZ→TZ cast is value-identity under the UTC session zone
    * the harness runs in.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, sfDir, "events"))
  }

  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "lineitem")

  def orders(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "orders")

  def customer(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "customer")

  def part(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "part")

  def supplier(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "supplier")

  def nation(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "nation")

  def region(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "region")

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "embeddings")

  /** The `events` table with the integer epoch-second column every windowed
    * fixture keys on: the floor of `ts` in seconds
    * ([[graft.operators.TimeWindows.epochSeconds]]), before 1970 too, as the
    * DuckDB oracle's `SqlGen.es`.
    */
  def eventsWithEpoch(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir).withColumn("es",
      graft.operators.TimeWindows.epochSeconds(col("ts")))
}
