package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

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
  *    ~|panes × keys| rows; level 2 expands *panes* (not rows)
  *    to the windows they belong to and merges algebraic partials. Exact for
  *    CNT/SUM/AVG/MIN/MAX. At scale this cuts shuffle volume by the ratio of
  *    rows-per-pane and is the strategy of choice for sliding windows.
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

  /** Largest multiple of `b` ≤ `a`, in long arithmetic (pmod is a floor mod). */
  private def floorTo(a: Column, b: Long): Column = a - pmod(a, lit(b))

  /** Starts (epoch seconds, ascending) of the (size, slide) windows that
    * fully hold the pane starting at `paneStart`: ws ∈ [p + pane − size, p],
    * ws a multiple of slide. All bounds are multiples of pane by
    * construction, and ceil-to-slide is written as floorTo(x + slide − 1,
    * slide). The level-2 expansion of [[aggregatePaned]]; the streaming
    * pane ring (`Streams.windowAggPaned`) walks the same bounds.
    */
  private def paneWindowStarts(
      paneStart: Column, pane: Long, sizeSec: Long, slideSec: Long): Column =
    sequence(floorTo(paneStart + lit(pane - sizeSec + slideSec - 1), slideSec),
      floorTo(paneStart, slideSec), lit(slideSec))

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
    * for the algebraic AggFn surface.
    */
  def aggregatePaned(
      df: DataFrame,
      ts: Column,
      sizeSec: Long,
      slideSec: Long,
      keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val pane = gcd(sizeSec, slideSec)
    val partials = aggs.flatMap(_.partialCols).distinct

    // Level 1: per-pane partial aggregation (Catalyst adds map-side combine).
    val paneCol = epochBucket(ts, pane).as("__pane")
    val level1 = df
      .groupBy(paneCol +: keys.map(col): _*)
      .agg(partials.head._2.as(partials.head._1),
           partials.tail.map { case (n, c) => c.as(n) }: _*)

    // For keyed windows, re-shuffle the (small) pane partials by key BEFORE
    // expansion: HashPartitioning(keys) satisfies the level-2 groupBy's
    // ClusteredDistribution(ws, keys), so Catalyst inserts no further
    // exchange and the size/slide-fold expansion never crosses the network —
    // the pane-merge locality of the reference's slot ring, in Spark terms.
    val colocated =
      if (keys.nonEmpty) level1.repartition(keys.map(col): _*) else level1
    val expanded = colocated.withColumn("ws",
      explode(paneWindowStarts(col("__pane"), pane, sizeSec, slideSec)))

    // Level 2: merge pane partials per window.
    expanded
      .groupBy(col("ws") +: keys.map(col): _*)
      .agg(aggs.head.finalCol, aggs.tail.map(_.finalCol): _*)
      .select(col("ws") +: keys.map(col) ++: aggs.map(a => col(a.alias)): _*)
  }

  /** Picks paned execution for genuinely sliding windows, native for tumbling. */
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
