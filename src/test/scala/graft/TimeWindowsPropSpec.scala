package graft

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import graft.operators._

/** Generated-input checks of the integer pane kernel: `aggregatePaned` must
  * equal native `aggregate`, and `epochSeconds` must equal
  * floor(unix_micros / 10⁶), on event sets the fixture data never holds —
  * TIMESTAMP and TIMESTAMP_NTZ `ts`, pre-1970 and sub-second times,
  * duplicate timestamps, gaps of empty panes, null keys, no keys, and
  * `slide ∤ size` shapes. An NTZ `ts` is bucketed as its wall clock read as
  * UTC, so under a non-UTC session paned and native must agree with each
  * other and with the native result under UTC. Further cases hold int and
  * long values (whose output types must be `aggregate`'s), NaN values
  * (MIN/MAX in Spark's NaN-last order), and sparse events: gaps longer than
  * the window, so a key's pane ring empties and restarts, and keys with a
  * single pane.
  *
  * The seed is random per run and printed on failure; set GRAFT_PROP_SEED to
  * the printed value to replay it.
  */
class TimeWindowsPropSpec extends SparkTestBase {
  import TimeWindowsPropSpec._

  private val Sec = 1000000L
  private val Day = 86400L * Sec

  /** Instants around anchors on both sides of 1970, some hours apart (gaps
    * of empty panes), some seconds apart (shared panes), nearly all off a
    * whole second (the floor differs from truncation before 1970).
    */
  private val genInstant: Gen[Long] = for {
    anchor <- Gen.oneOf(-15L * 365 * Day, -1L * Day, 0L, 19800L * Day)
    offset <- Gen.oneOf(Gen.choose(-3L * 3600 * Sec, 3L * 3600 * Sec),
                        Gen.choose(-150L * Sec, 150L * Sec))
  } yield anchor + offset

  private val genCase: Gen[Case] = for {
    pool <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, genInstant))
    n <- Gen.choose(0, 25)
    // Drawn with replacement from a small pool: duplicate timestamps.
    events <- Gen.listOfN(n, for {
      us <- Gen.oneOf(pool)
      key <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.oneOf("a", "b").map(Some(_)))
      v <- Gen.choose(0, 100)
    } yield Ev(key, us, v))
    shape <- Gen.oneOf((3600L, 60L), (300L, 120L), (1800L, 120L),
                       (120L, 60L), (600L, 600L))
    keyed <- Gen.oneOf(true, false)
    ntz <- Gen.oneOf(true, false)
  } yield Case(events, shape._1, shape._2, keyed, ntz)

  private val aggs = Seq(
    AggSpec(AggFn.Cnt, col("value"), "cnt"),
    AggSpec(AggFn.Sum, col("value"), "sum_v"),
    AggSpec(AggFn.Avg, col("value"), "avg_v", Some(4)),
    AggSpec(AggFn.Min, col("value"), "min_v"),
    AggSpec(AggFn.Max, col("value"), "max_v"))

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("us", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("ntz", TimestampNTZType, nullable = false)))

  /** The events with `ts` as TIMESTAMP (the instant `us`) or TIMESTAMP_NTZ
    * (the wall clock that reads as `us` in UTC) — neither depends on the
    * session zone.
    */
  private def frame(s: SparkSession, c: Case): DataFrame = {
    val rows = c.events.map { e =>
      val wall = LocalDateTime.ofEpochSecond(Math.floorDiv(e.us, Sec),
        (Math.floorMod(e.us, Sec) * 1000L).toInt, ZoneOffset.UTC)
      Row(e.key.orNull, e.us, e.value.toDouble, wall)
    }
    val df = s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    df.withColumn("ts", if (c.ntz) col("ntz") else timestamp_micros(col("us")))
  }

  /** Values of one type: int or long (cast from the drawn ints), or
    * double with NaN in place of the values at every second or third
    * microsecond, so that whole panes hold only NaN.
    */
  private val genValues: Gen[Values] = Gen.oneOf(
    Values(IntegerType, nanEvery = 0), Values(LongType, nanEvery = 0),
    Values(DoubleType, nanEvery = 2), Values(DoubleType, nanEvery = 3))

  private def typed(s: SparkSession, c: Case, v: Values): DataFrame = {
    val df = frame(s, c)
    if (v.nanEvery > 0)
      df.withColumn("value", when(col("us") % v.nanEvery === 0, lit(Double.NaN)).otherwise(col("value")))
    else df.withColumn("value", col("value").cast(v.dt))
  }

  /** Sparse events: three bursts, each for one key (null, "a" or "b") at one
    * to four starts more than a window apart, so a key's ring empties
    * between them; at each start, one to four events at one instant (a
    * single pane) or within 5 s.
    */
  private def genSparse(size: Long): Gen[Seq[Ev]] = for {
    base <- Gen.oneOf(-15L * 365 * Day, 0L, 19800L * Day)
    bursts <- Gen.listOfN(3, for {
      key <- Gen.oneOf(None, Some("a"), Some("b"))
      gaps <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(size + 1, 3 * size)))
      width <- Gen.oneOf(0L, 5L * Sec)
      n <- Gen.choose(1, 4)
    } yield (key, gaps, width, n))
    evs <- Gen.sequence[Seq[Ev], Ev](bursts.flatMap { case (key, gaps, width, n) =>
      gaps.scanLeft(0L)(_ + _ * Sec).map { at =>
        Gen.choose(0L, width).flatMap(d => Gen.choose(-50, 100).map(v => Ev(key, base + at + d, v)))
      }.flatMap(g => Seq.fill(n)(g))
    })
  } yield evs

  private def keys(c: Case): Seq[String] = if (c.keyed) Seq("k") else Seq.empty

  private def rows(df: DataFrame): Vector[String] =
    df.collect().map(_.toSeq.mkString("|")).toVector.sorted

  private def paned(s: SparkSession, c: Case): Vector[String] =
    rows(TimeWindows.aggregatePaned(frame(s, c), col("ts"), c.size, c.slide, keys(c), aggs))

  private def native(s: SparkSession, c: Case): Vector[String] =
    rows(TimeWindows.aggregate(frame(s, c), col("ts"), c.size, c.slide, keys(c), aggs))

  /** aggregatePaned == aggregate over `df`, rows and column types. */
  private def sameAsNative(c: Case, df: DataFrame): Prop = {
    val (p, n) = (TimeWindows.aggregatePaned(df, col("ts"), c.size, c.slide, keys(c), aggs),
      TimeWindows.aggregate(df, col("ts"), c.size, c.slide, keys(c), aggs))
    // names and types; `aggregate`'s ws is nullable, the ring's is not
    val (pt, nt) = (p.schema.map(f => f.name -> f.dataType), n.schema.map(f => f.name -> f.dataType))
    val (got, want) = (rows(p), rows(n))
    ((pt == nt) :| s"$c\npaned schema:  $pt\nnative schema: $nt") &&
      ((got == want) :| s"$c\npaned:  $got\nnative: $want")
  }

  private def epochSecondsHold(s: SparkSession, c: Case): Prop = {
    val got = frame(s, c).select(col("us"), TimeWindows.epochSeconds(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val bad = got.filter { case (us, es) => es != Math.floorDiv(us, Sec) }
    bad.isEmpty :| s"epochSeconds != floor(us / 1e6) for (us, es) ${bad.mkString(", ")}"
  }

  test("generated events, UTC session: aggregatePaned == aggregate and epochSeconds is floor") {
    propCheck(30)(Prop.forAllNoShrink(genCase) { c =>
      val (got, want) = (paned(spark, c), native(spark, c))
      ((got == want) :| s"$c\npaned:  $got\nnative: $want") &&
        epochSecondsHold(spark, c)
    })
  }

  test("generated events, non-UTC session: NTZ buckets as wall clock in UTC, LTZ as the instant") {
    val zoned = spark.newSession()
    zoned.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    propCheck(12)(Prop.forAllNoShrink(genCase) { c =>
      // Both strategies, in the same zoned session, must give the UTC
      // session's windows: an instant's do not depend on the zone, and an
      // NTZ wall clock is read as UTC.
      val (got, want, utc) = (paned(zoned, c), native(zoned, c), native(spark, c))
      ((got == want) :| s"$c\npaned:  $got\nnative: $want") &&
        ((want == utc) :| s"$c\nzoned native: $want\nUTC native:   $utc") &&
        epochSecondsHold(zoned, c)
    })
  }

  test("generated int, long and NaN-holding double values: aggregatePaned == aggregate, types too") {
    val gen = for { c <- genCase; v <- genValues } yield (c, v)
    propCheck(20)(Prop.forAllNoShrink(gen) { case (c, v) =>
      sameAsNative(c, typed(spark, c, v)) :| s"values $v"
    })
  }

  test("sparse events: gaps longer than size restart the rings, single-pane keys") {
    val gen = for {
      shape <- Gen.oneOf((3600L, 60L), (300L, 120L), (120L, 60L))
      evs <- genSparse(shape._1)
      keyed <- Gen.frequency(3 -> true, 1 -> false)
      ntz <- Gen.oneOf(true, false)
      v <- genValues
    } yield (Case(evs, shape._1, shape._2, keyed, ntz), v)
    propCheck(15)(Prop.forAllNoShrink(gen) { case (c, v) =>
      sameAsNative(c, typed(spark, c, v)) :| s"values $v"
    })
  }
}

object TimeWindowsPropSpec {
  private final case class Ev(key: Option[String], us: Long, value: Int)
  private final case class Case(
      events: Seq[Ev], size: Long, slide: Long, keyed: Boolean, ntz: Boolean)
  private final case class Values(dt: DataType, nanEvery: Long)
}
