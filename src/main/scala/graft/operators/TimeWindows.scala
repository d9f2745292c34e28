package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Time-based (RANGE_BASED) tumbling/sliding window aggregation.
  *
  * Reference semantics: `WindowDefinition(RANGE_BASED, size, slide)` over the
  * long timestamp in attribute 0 (reference src/utils/WindowDefinition.h:13-58);
  * windows are identified by their start, empty windows are not emitted
  * (FIXTURES.md pins both conventions).
  *
  * Two physical strategies, same results (an NTZ `ts` read as UTC wall clock):
  *
  *  - [[aggregate]]: Spark's native `window(ts, size, slide)` — each row is
  *    expanded to size/slide window buckets *before* the shuffle. Fine for
  *    tumbling (1 bucket); at 100 TB a 60× sliding expansion of the shuffle
  *    input is the bottleneck.
  *
  *  - [[aggregatePaned]]: LightSaber-style pane slicing
  *    (reference WindowDefinition.h:46,80-90 — paneSize = gcd(size, slide)).
  *    Level 1 partially aggregates rows into gcd-size panes, the pane id being
  *    integer floor division on the stored microseconds ([[EpochBucket]]; no
  *    zone conversion, no double math), and map-side combine shrinks this to
  *    ~|panes × keys| rows. Level 2 brings each key's pane partials into one
  *    partition, sorts them by pane start, and merges them in one pass
  *    through a per-key ring of panes ([[PaneRing]], the kernel the
  *    streaming twin runs too): a window is merged from its size/pane panes
  *    and emitted once a later pane arrives. No pane is copied once per
  *    window. Exact for CNT/SUM/AVG/MIN/MAX; integral SUM/MIN/MAX fold as
  *    longs. At scale this cuts shuffle volume by the ratio of rows-per-pane
  *    and is the strategy of choice for sliding windows.
  *
  * Output schema: `ws: long` (window-start epoch seconds), group keys, then one
  * column per [[AggSpec]].
  */
object TimeWindows {

  /** Start (epoch seconds) of the `bucketSec` bucket holding `ts`, by
    * integer floor division on the stored microseconds ([[EpochBucket]]).
    */
  def epochBucket(ts: Column, bucketSec: Long): Column =
    GraftColumnBridge.column(EpochBucket(GraftColumnBridge.expression(ts), bucketSec))

  /** Epoch seconds (floor), before 1970 too; the oracle's `SqlGen.es`. */
  def epochSeconds(ts: Column): Column = epochBucket(ts, 1L)

  /** Native-window strategy. `keys` are column names present on `df`. */
  def aggregate(
      df: DataFrame,
      ts: Column,
      sizeSec: Long,
      slideSec: Long,
      keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    // Uncast, window() reads TIMESTAMP and NTZ micros as the kernel does.
    val w = window(ts, s"$sizeSec seconds", s"$slideSec seconds")
    df.groupBy(w +: keys.map(col): _*)
      .agg(aggs.head.toColumn, aggs.tail.map(_.toColumn): _*)
      .withColumn("ws", epochSeconds(col("window.start")))
      .select(col("ws") +: keys.map(col) ++: aggs.map(a => col(a.alias)): _*)
  }

  /** Pane-based two-level strategy (gcd slicing). Same output as [[aggregate]]
    * for the algebraic AggFn surface; SUM, AVG, MIN and MAX take integral or
    * floating-point inputs.
    */
  def aggregatePaned(
      df: DataFrame,
      ts: Column,
      sizeSec: Long,
      slideSec: Long,
      keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val (kernel, types, lanes) = PaneRing.kernel(df, sizeSec, slideSec, aggs)
    val partials = aggs.flatMap(_.partialCols).distinct

    // Level 1: per-pane partial aggregation (Catalyst adds map-side combine).
    val paneCol = epochBucket(ts, kernel.pane).as("__pane")
    val level1 = df
      .groupBy(paneCol +: keys.map(col): _*)
      .agg(partials.head._2.as(partials.head._1),
           partials.tail.map { case (n, c) => c.as(n) }: _*)

    // Level 2: all of a key's pane partials in one partition (one partition
    // when unkeyed), in pane order: a sort on one long, which Spark radix
    // sorts. One pass then merges each key's ring of panes into windows.
    val byKey =
      if (keys.nonEmpty) level1.repartition(keys.map(col): _*) else level1.repartition(1)
    val in = byKey.sortWithinPartitions("__pane").select(col("__pane") +:
      (PaneRing.valueCols(aggs)((a, j) => a.partialValueCount._1.cast(lanes(j))) ++
        PaneRing.countCols(aggs)((a, _) => a.partialValueCount._2)) ++:
      keys.map(col): _*)
    val keySchema = StructType(keys.map(in.schema(_)))
    in.mapPartitions(PaneRing.windows(kernel, keySchema))(
        Encoders.row(PaneRing.outputSchema(keySchema, aggs, lanes)))
      .select(col("ws") +: keys.map(col) ++: PaneRing.merged(aggs, types): _*)
  }

  /** Picks paned execution for genuinely sliding windows, native for tumbling.
    * A sliding window's SUM, AVG, MIN and MAX therefore take only integral or
    * floating-point inputs (see [[aggregatePaned]]); a DECIMAL, timestamp,
    * date or string input fails when the DataFrame is built. Tumbling
    * windows take any input [[aggregate]] takes.
    */
  def auto(
      df: DataFrame,
      ts: Column,
      sizeSec: Long,
      slideSec: Long,
      keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame =
    if (slideSec < sizeSec) aggregatePaned(df, ts, sizeSec, slideSec, keys, aggs)
    else aggregate(df, ts, sizeSec, slideSec, keys, aggs)

  @annotation.tailrec
  private[graft] def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
}
