package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** The one driver of a replayed streaming query: finite input, collected
  * on the driver, fed to a real streaming query one trigger at a time
  * through a `MemoryStream`, drained and stopped. Only the replay is
  * driver-side; the operator under test is the streaming plan itself.
  *
  * In Discretized Streams a stream is its sequence of deterministic
  * batches, so the trigger boundaries are part of the input, and a replay
  * takes them as a value: [[Chunks]], built by [[parts]] (sorted input cut
  * into n parts) or [[each]] (one DataFrame per trigger). LightSaber
  * assumes in-order input, which is what [[parts]] replays.
  *
  * Every replay runs in one posture: [[Streams.withRocksDb]] (RocksDB state,
  * which `transformWithState` requires), 4 shuffle partitions and no-data
  * triggers on. State partitioning is fixed at a query's first run, and
  * every stateful operator writes state files per partition per trigger,
  * so 32 partitions on a replay this size is checkpoint I/O and nothing
  * else (measured 16 s → ~5 s for a chained paned fixture at sf0.1).
  *
  * The final watermark needs no extra input: the watermark (max event
  * time − delay) is computed at the end of a trigger and applied by the
  * next one, and with `spark.sql.streaming.noDataMicroBatches.enabled` on
  * (Spark's default, which the posture sets even where a session turned
  * it off) the query runs that next trigger without data before
  * `processAllAvailable` returns.
  */
object Replay {

  /** A replay's input cut into triggers: the rows' schema and one block of
    * rows per trigger, in replay order.
    */
  final case class Chunks(schema: StructType, triggers: Seq[Seq[Row]]) {

    /** The last trigger's rows as a DataFrame, to replay that trigger after
      * a simulated crash.
      */
    def lastTrigger(s: SparkSession): DataFrame =
      s.createDataFrame(triggers.last.asJava, schema)
  }

  /** `input` collected, sorted by the `order` columns (stably, so ties keep
    * their collected order) and cut into `n` near-equal parts. A cut falls
    * only where the order key strictly increases: `transformWithState` and
    * a delay-0 watermark drop input at or below the previous trigger's
    * watermark, so a cut inside a run of equal event times would drop the
    * run's tail. Empty parts are left out.
    *
    * Which rows share a trigger changes when a window is emitted, never
    * its value. Most fixtures replay 2 parts: enough for state to carry
    * across triggers, without paying a trigger's fixed cost more often.
    * Fixtures whose own state could see trigger boundaries (first-seen
    * keeper choice, row-window eviction, count windows) replay 4.
    */
  def parts(input: DataFrame, n: Int, order: String*): Chunks = {
    require(order.nonEmpty, "parts needs an order column")
    val idx = order.map(input.schema.fieldIndex)
    val keyed = input.collect().toIndexedSeq.map(r => (idx.map(r.get), r)).sortBy(_._1)(KeyOrdering)
    Chunks(input.schema, split(keyed, n)(_._1)(KeyOrdering).map(_.map(_._2)))
  }

  /** One trigger per DataFrame, in order: the delta fixtures' b1, b2. */
  def each(triggers: DataFrame*): Chunks = {
    val schema = StructType(triggers.head.schema.fields.map(f =>
      f.copy(nullable = triggers.exists(_.schema(f.name).nullable))))
    Chunks(schema, triggers.map(_.collect().toSeq))
  }

  /** `sorted` cut into at most `n` non-empty, near-equal, contiguous parts,
    * each cut moved forward past any run of equal keys.
    */
  def split[T, K](sorted: IndexedSeq[T], n: Int)(key: T => K)(
      implicit ord: Ordering[K]): Seq[IndexedSeq[T]] = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    val len = sorted.length
    val cuts = (1 until n).map { i =>
      var c = (i.toLong * len / n).toInt
      while (c > 0 && c < len && ord.equiv(key(sorted(c)), key(sorted(c - 1)))) c += 1
      c
    }
    (0 +: cuts :+ len).sliding(2).collect {
      case Seq(a, b) if b > a => sorted.slice(a, b)
    }.toSeq
  }

  /** Replays `chunks` through `transform` into a memory sink named
    * `sink` plus a unique suffix (attempts in one session must not
    * collide) and returns the sink's table.
    */
  def apply(s: SparkSession, chunks: Chunks, sink: String, outputMode: String = "append")(
      transform: DataFrame => DataFrame): DataFrame = {
    val name = s"${sink}_${System.nanoTime}"
    start(s, chunks)(stream => toMemory(transform(stream), name, outputMode))
    s.table(name)
  }

  /** Replays `chunks` into the query that `start` starts over the replay
    * stream, for operators that own their writer (`StreamingIvm.start`,
    * `StreamingUpsert.start`, the index ingests).
    */
  def start(s: SparkSession, chunks: Chunks)(start: DataFrame => StreamingQuery): Unit = {
    val ms = MemoryStream[Row](Encoders.row(chunks.schema), s)
    run(s, start(ms.toDF()), chunks.triggers.map(t => () => ms.addData(t)))
  }

  /** The zero-chunk replay: drains `stream`, whose source is its own (a
    * staged file source, or a test's), into a memory sink and returns the
    * sink's table.
    */
  def drain(s: SparkSession, stream: DataFrame, sink: String, outputMode: String): DataFrame = {
    val name = s"${sink}_${System.nanoTime}"
    run(s, toMemory(stream, name, outputMode), Nil)
    s.table(name)
  }

  /** The zero-chunk replay into a query the caller starts. */
  def drain(s: SparkSession)(start: => StreamingQuery): Unit = run(s, start, Nil)

  /** In the replay posture: starts the query, runs each feed and drains
    * after it (or drains once when there is none), and stops the query.
    * Streaming conf is captured when a query starts, so the query starts
    * and finishes inside the posture's scope.
    */
  private def run(s: SparkSession, start: => StreamingQuery, feeds: Seq[() => Unit]): Unit =
    Streams.withRocksDb(s) {
      Streams.withConf(s, "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") {
        val q = start
        try
          if (feeds.isEmpty) q.processAllAvailable()
          else feeds.foreach { feed => feed(); q.processAllAvailable() }
        finally q.stop()
      }
    }

  private def toMemory(df: DataFrame, name: String, outputMode: String): StreamingQuery =
    df.writeStream.outputMode(outputMode).format("memory").queryName(name).start()

  /** Lexicographic order over order-column values (boxed atomic values are
    * `Comparable`); nulls first.
    */
  private object KeyOrdering extends Ordering[Seq[Any]] {
    def compare(a: Seq[Any], b: Seq[Any]): Int =
      a.iterator.zip(b.iterator).map {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
      }.find(_ != 0).getOrElse(0)
  }
}
