package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.apache.spark.sql.types._
import graft.operators.{AggFn, AggSpec, PaneRing, TimeWindows}

/** Structured Streaming façade: the reference is a *stream* engine
  * (in-order tuple streams, SURVEY §1.1); every batch operator here also runs
  * as a streaming query. Batch mode answers the DuckDB oracle; this module
  * answers the semantics: windows + watermarks + state.
  *
  * Source: the same `events` parquet replayed through the file stream source
  * (the analog of the reference's in-memory replay,
  * test/benchmarks/applications/BenchmarkQuery.h:144-259). In production the
  * source would be Kafka/rate — the transforms are source-agnostic.
  */
object Streams {

  /** Raw events.parquet layout with `ts` slotted to whatever physical type
    * the data drop uses (nanos-long or µs NTZ — see Tables.events). The file
    * stream source needs a declared schema, so probe the batch footer once.
    */
  def eventsRawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", tsType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false)))

  /** Streaming view of `events` with the same columns as Tables.events
    * (+ `es` epoch seconds). The file stream source requires a directory, so
    * the single parquet file is staged into a per-sfDir temp dir once.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    val raw = spark.readStream
      .schema(eventsRawSchema(tsType))
      .parquet(stageDir(sfDir))
    graft.Tables.normalizeTs(raw)
      .withColumn("es", TimeWindows.epochSeconds(col("ts")))
  }

  private def stageDir(sfDir: String): String = {
    import java.nio.file._
    val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = Paths.get(sys.props("java.io.tmpdir"), "graft_stream", name)
    val src = Paths.get(sfDir, "events.parquet")
    val dst = dir.resolve("events.parquet")
    // Re-stage when the source file changed (the driver regenerates the
    // testdata between rounds — a stale copy may carry an older schema).
    // ANY mtime difference counts as changed, not just "source newer": a
    // regenerated file restored with cp -p / rsync -a / archive extraction
    // keeps its original (older) timestamp and a size match would otherwise
    // mask new content. If the source is missing but a staged copy exists,
    // keep serving the copy instead of throwing on Files.size(src).
    if (!Files.exists(src)) {
      require(Files.exists(dst),
        s"events source $src is missing and no staged copy exists at $dst")
    } else {
      val stale = !Files.exists(dst) ||
        Files.size(dst) != Files.size(src) ||
        Files.getLastModifiedTime(dst).compareTo(Files.getLastModifiedTime(src)) != 0
      if (stale) {
        Files.createDirectories(dir)
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
    dir.toString
  }

  /** Sliding/tumbling window aggregation on a stream: identical AggSpec
    * surface as the batch TimeWindows. With a watermark, append mode emits
    * each window once when it finalizes — the streaming analog of the
    * reference's complete-window forwarding (ResultHandler §3.1 step 5).
    */
  def windowAgg(
      stream: DataFrame,
      sizeSec: Long,
      slideSec: Long,
      keys: Seq[String],
      aggs: Seq[AggSpec],
      watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(stream)(w => stream.withWatermark("ts", w))
    val w = window(col("ts"), s"$sizeSec seconds", s"$slideSec seconds")
    in.groupBy(w +: keys.map(col): _*)
      .agg(aggs.head.toColumn, aggs.tail.map(_.toColumn): _*)
      .withColumn("ws", col("window.start").cast("long"))
      .select(col("ws") +: keys.map(col) ++: aggs.map(a => col(a.alias)): _*)
  }

  /** Pane-based sliding aggregation in streaming, as one event-time
    * `transformWithState` operator: LightSaber's per-key pane ring. The
    * plan is scan → one shuffle by key → the stateful operator, with one
    * state store per trigger. Output is that of the batch
    * [[TimeWindows.aggregatePaned]] over the windows the watermark has
    * closed, with the same types: SUM, AVG, MIN and MAX take integral
    * inputs (folded exactly as longs) or floating-point ones (as doubles).
    *
    *  - Key and state: the `keys` columns as one row; per key, one value holding
    *    a ring of gcd(size, slide) pane slots (pane start, partial value and
    *    non-null count per aggregate), the end of the last window emitted and
    *    the expiry of the key's one timer.
    *  - Fold and emit: each row folds into its pane ([[TimeWindows.epochBucket]]).
    *    On input and on its timer, a key emits, in order, every window that
    *    holds data, ends at or below the watermark and was not yet emitted;
    *    evicts each pane whose last window has been emitted; and re-arms one
    *    event-time timer at its next window end. Fold, merge, emit and
    *    eviction are [[PaneRing.Kernel]]'s, shared with the batch twin; AVG's
    *    division and rounding stay in Catalyst ([[AggSpec.mergedCol]]).
    *  - Event time: the operator's event-time column is the PANE END, carrying
    *    the watermark of `ts`. `transformWithState` drops input at or below
    *    the (previous trigger's) watermark on that column, which is the late
    *    rule of a tumbling pane aggregation: a row is late once its pane has
    *    closed. Both are shifted by [[PaneRingProcessor.ShiftSec]] (year 1 maps to 0),
    *    so that pre-1970 panes are not late against the first watermark, 0;
    *    output `ws` is not shifted.
    *  - State store: `transformWithState` runs only on RocksDB, so start the
    *    query inside [[withRocksDb]].
    */
  def windowAggPaned(
      stream: DataFrame,
      sizeSec: Long,
      slideSec: Long,
      keys: Seq[String],
      aggs: Seq[AggSpec],
      watermark: String): DataFrame = {
    val (kernel, types, lanes) = PaneRing.kernel(stream, sizeSec, slideSec, aggs)
    // transformWithState needs a key: unkeyed windows share one constant key
    val byKeys = if (keys.nonEmpty) keys else Seq("__all")
    val shifted = (if (keys.nonEmpty) stream else stream.withColumn("__all", lit(0)))
      .withColumn("__et", col("ts") + lit(java.time.Duration.ofSeconds(PaneRingProcessor.ShiftSec)))
      .withWatermark("__et", watermark)
    val paneStart = TimeWindows.epochBucket(col("ts"), kernel.pane)
    val in = shifted.select(
      paneStart.as("__pane") +:
        timestamp_seconds(paneStart + lit(kernel.pane + PaneRingProcessor.ShiftSec))
          .as("__end", shifted.schema("__et").metadata) +:
        PaneRing.valueCols(aggs)((a, j) =>
          if (a.fn == AggFn.Cnt) lit(null).cast(LongType) else a.input.cast(lanes(j))) ++:
        byKeys.map(col): _*)
    val keySchema = StructType(byKeys.map(in.schema(_)))
    in.groupBy(byKeys.map(col): _*).as(Encoders.row(keySchema), Encoders.row(in.schema))
      .transformWithState(new PaneRingProcessor(kernel), TimeMode.EventTime(), OutputMode.Append())(
        Encoders.row(PaneRing.outputSchema(keySchema, aggs, lanes)))
      .select(col("ws") +: keys.map(col) ++: PaneRing.merged(aggs, types): _*)
  }

  /** Stream-stream windowed θ-join (reference ThetaJoin →
    * StreamingSymmetricHashJoinExec): watermarks on both sides bound the
    * join state; the time-range condition bounds pairing exactly like the
    * batch Joins.windowedTheta.
    */
  def windowedThetaJoin(
      left: DataFrame,
      right: DataFrame,
      leftTsCol: String,
      rightTsCol: String,
      windowSec: Long,
      theta: org.apache.spark.sql.Column,
      watermark: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    l.join(r,
      theta &&
        col(rightTsCol) >= col(leftTsCol) &&
        col(rightTsCol) <= col(leftTsCol) + expr(s"INTERVAL $windowSec SECONDS"),
      "inner")
  }

  /** Runs `body` with the SQL conf `settings` set on the session, then
    * restores each key's previous value, or its absence. Streaming conf is
    * captured per query at start, so `body` must start AND fully drain its
    * streaming queries.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    // getAll holds only the keys set on the session; getOption would also
    // return a default, and restoring that would leave the key set
    val set = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Conf setting that writes streaming checkpoint files through Spark's
    * `FileSystemBasedCheckpointFileManager` instead of its default
    * FileContext-based one. Without libhadoop, the FileContext
    * `rename(OVERWRITE)` resolves links by running `readlink`, several
    * process starts for every checkpoint file; `FileSystem.rename` on a
    * local disk is `File.renameTo`. Hadoop's local file system still runs
    * `chmod` once for each file it creates. On other file systems
    * `FileSystem.rename` need not replace an existing file atomically.
    *
    * Every session this program builds ([[graft.LocalSession]]) sets it, so
    * all their queries write checkpoints one way. [[withRocksDb]], and so every [[Replay]], sets it
    * again for its scope: that is how a session built elsewhere, such as
    * the benchmark harness's or a `SparkEntry` caller's, runs its streaming
    * queries.
    */
  val checkpointFiles: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** The production streaming posture, scoped to `body` ([[withConf]]):
    * RocksDB state (`transformWithState`, state-v2, runs only there) with
    * changelog checkpointing, and [[checkpointFiles]].
    */
  def withRocksDb[T](spark: SparkSession)(body: => T): T =
    withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // changelog checkpointing: commit the per-batch delta instead of a full
      // RocksDB snapshot upload — snapshots still happen, but off the commit
      // path (background maintenance), which is the production posture too
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      checkpointFiles)(body)
}
