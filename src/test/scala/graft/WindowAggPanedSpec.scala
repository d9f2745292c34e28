package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.operators._
import graft.streaming.Streams

/** The streaming `Streams.windowAggPaned` against its batch twin
  * `TimeWindows.aggregatePaned`: replayed in chunks, the stream must emit
  * exactly the batch windows that end by its final watermark, each once.
  *
  * The generated cases hold null values, null keys, no keys, duplicate
  * timestamps, pre-1970 times, random (also empty) chunks, and the 60/20,
  * 300/120 (pane = gcd = 60) and 3600/600 shapes. In-order input runs with
  * watermark delay 0; input shuffled within a bound runs with a delay at
  * least that bound, so no row is late.
  *
  * The seed is random per run and printed on failure; set GRAFT_PROP_SEED to
  * the printed value to replay it.
  */
class WindowAggPanedSpec extends SparkTestBase {
  import WindowAggPanedSpec._

  private val Sec = 1000000L

  private val aggs = Seq(
    AggSpec(AggFn.Cnt, col("value"), "cnt"),
    AggSpec(AggFn.Sum, col("value"), "sum_v"),
    AggSpec(AggFn.Avg, col("value"), "avg_v", Some(4)),
    AggSpec(AggFn.Min, col("value"), "min_v"),
    AggSpec(AggFn.Max, col("value"), "max_v"))

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("us", LongType, nullable = false),
    StructField("value", DoubleType)))

  private def rows(df: DataFrame): Vector[String] =
    df.collect().map(_.toSeq.mkString("|")).toVector.sorted

  /** The batch twin's windows that end by the final watermark, max(ts) − delay. */
  private def batch(s: SparkSession, evs: Seq[Ev], size: Long, slide: Long, delaySec: Long,
      keys: Seq[String]): Vector[String] = {
    val df = s.createDataFrame(java.util.Arrays.asList(
        evs.map(e => Row(e.key.orNull, e.us, e.value.map(_.toDouble).orNull)): _*), schema)
      .withColumn("ts", timestamp_micros(col("us")))
    val maxUs = evs.map(_.us).max
    rows(TimeWindows.aggregatePaned(df, col("ts"), size, slide, keys, aggs)
      .where((col("ws") + lit(size + delaySec)) * lit(Sec) <= lit(maxUs)))
  }

  /** The stream's output after replaying `chunks`, then the latest event
    * again: the final watermark is applied by the trigger after the one that
    * sets it, and that event's pane only feeds windows past the watermark.
    */
  private def streamed(s: SparkSession, chunks: Seq[Seq[Ev]], size: Long, slide: Long,
      delaySec: Long, keys: Seq[String]): Vector[String] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Option[String], Long, Option[Double])]
    val stream = ms.toDF().toDF("k", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val sink = s"paned_twin_${System.nanoTime}"
    Streams.withRocksDb(s) {
      Streams.withConf(s, "spark.sql.shuffle.partitions" -> "1") {
        val q = Streams.windowAggPaned(stream, size, slide, keys, aggs, s"$delaySec seconds")
          .writeStream.outputMode("append").format("memory").queryName(sink).start()
        def add(evs: Seq[Ev]): Unit = {
          ms.addData(evs.map(e => (e.key, e.us, e.value.map(_.toDouble))))
          q.processAllAvailable()
        }
        try {
          chunks.foreach(add)
          add(Seq(chunks.flatten.maxBy(_.us)))
        } finally q.stop()
      }
    }
    rows(s.table(sink))
  }

  test("pre-1970 events: seconds -100..99 at 60/20 in chunks of 50 give the batch windows") {
    val evs = (-100L to 99L).map(es =>
      Ev(Some(s"k${Math.floorMod(es, 3L)}"), es * Sec, Some(Math.floorMod(es, 7L).toInt)))
    val got = streamed(spark, evs.grouped(50).toSeq, 60, 20, 0, Seq("k"))
    val want = batch(spark, evs, 60, 20, 0, Seq("k"))
    assert(want.length == 27)
    assert(got == want, s"\nstream: $got\nbatch:  $want")
  }

  /** Instants around anchors on both sides of 1970, hours apart (empty
    * panes) or seconds apart (shared panes), drawn from a small pool
    * (duplicate timestamps), on a whole second (the watermark is in
    * milliseconds, so only such a tie can sit exactly at it) or off one.
    */
  private val genEvents: Gen[Seq[Ev]] = for {
    anchor <- Gen.oneOf(-15L * 365 * 86400 * Sec, -600L * Sec, 0L, 1700000000L * Sec)
    spread <- Gen.oneOf(3L * 3600, 150L)
    instant = Gen.oneOf(Gen.choose(-spread, spread).map(_ * Sec),
                        Gen.choose(-spread * Sec, spread * Sec))
    pool <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, instant))
    n <- Gen.choose(1, 30)
    evs <- Gen.listOfN(n, for {
      us <- Gen.oneOf(pool)
      key <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.oneOf("a", "b").map(Some(_)))
      v <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(-50, 100).map(Some(_)))
    } yield Ev(key, anchor + us, v))
  } yield evs

  private val genShape: Gen[(Long, Long)] = Gen.oneOf((60L, 20L), (300L, 120L), (3600L, 600L))

  /** Keyed by `k` (null keys included), or one window set for all events. */
  private val genKeys: Gen[Seq[String]] = Gen.frequency(3 -> Seq("k"), 1 -> Seq.empty[String])

  /** Splits `evs` at random points, half of them, where there are any,
    * between two events with the same timestamp: the second then arrives
    * exactly at the watermark the first one set. After a random half of the
    * chunks comes an empty one, a trigger without rows, which raises the
    * watermark that drops late rows to the one the chunk before it set.
    */
  private def genChunks(evs: Seq[Ev]): Gen[Seq[Seq[Ev]]] = {
    val ties = (1 until evs.length).filter(i => evs(i - 1).us == evs(i).us)
    val cut =
      if (ties.isEmpty) Gen.choose(0, evs.length)
      else Gen.frequency(1 -> Gen.choose(0, evs.length), 1 -> Gen.oneOf(ties))
    for {
      k <- Gen.choose(1, 5)
      cuts <- Gen.listOfN(k - 1, cut)
      bounds = 0 +: cuts.sorted :+ evs.length
      chunks = bounds.zip(bounds.tail).map { case (a, b) => evs.slice(a, b) }
      idle <- Gen.listOfN(chunks.length, Gen.oneOf(true, false))
    } yield chunks.zip(idle).flatMap { case (c, i) => if (i) Seq(c, Seq.empty) else Seq(c) }
  }

  /** Runs `prop` from a random (or GRAFT_PROP_SEED) seed, without
    * shrinking (each case is a streaming query), failing with the seed.
    */
  private def check(minOk: Int)(prop: Prop): Unit = {
    val seed = sys.env.get("GRAFT_PROP_SEED")
      .map(Seed.fromBase64(_).get).getOrElse(Seed.random())
    val params = Check.Parameters.default
      .withMinSuccessfulTests(minOk).withWorkers(1).withInitialSeed(seed)
    val res = Check.check(params, prop)
    assert(res.passed,
      s"failed with GRAFT_PROP_SEED=${seed.toBase64}: " +
        org.scalacheck.util.Pretty.pretty(res, org.scalacheck.util.Pretty.Params(2)))
  }

  private def twins(evs: Seq[Ev], chunks: Seq[Seq[Ev]], shape: (Long, Long), delaySec: Long,
      keys: Seq[String]): Prop = {
    val (size, slide) = shape
    val got = streamed(spark, chunks, size, slide, delaySec, keys)
    val want = batch(spark, evs, size, slide, delaySec, keys)
    (got == want) :| s"shape $shape, delay $delaySec s, keys $keys, chunks\n${chunks.mkString("\n")}\n" +
      s"stream: $got\nbatch:  $want"
  }

  test("generated in-order events, delay 0: windowAggPaned == aggregatePaned by the final watermark") {
    val gen = for {
      evs <- genEvents.map(_.sortBy(_.us))
      chunks <- genChunks(evs)
      shape <- genShape
      keys <- genKeys
    } yield (evs, chunks, shape, keys)
    check(12)(Prop.forAllNoShrink(gen) { case (evs, chunks, shape, keys) =>
      twins(evs, chunks, shape, 0, keys)
    })
  }

  test("generated events shuffled within a bound: windowAggPaned == aggregatePaned at that delay") {
    val gen = for {
      evs <- genEvents
      bound <- Gen.choose(1L, 900L)
      // each event moves to a random key in [us, us + bound]: a later
      // arrival is at most `bound` older than anything before it
      jitter <- Gen.listOfN(evs.length, Gen.choose(0L, bound * Sec))
      shuffled = evs.zip(jitter).sortBy { case (e, j) => e.us + j }.map(_._1)
      chunks <- genChunks(shuffled)
      shape <- genShape
      keys <- genKeys
    } yield (evs, chunks, shape, bound, keys)
    check(12)(Prop.forAllNoShrink(gen) { case (evs, chunks, shape, bound, keys) =>
      twins(evs, chunks, shape, bound, keys)
    })
  }
}

object WindowAggPanedSpec {
  private final case class Ev(key: Option[String], us: Long, value: Option[Int])
}
