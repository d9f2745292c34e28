package graft

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.operators._

/** Generated-input checks of the integer pane kernel: `aggregatePaned` must
  * equal native `aggregate`, and `epochSeconds` must equal
  * floor(unix_micros / 10⁶), on event sets the fixture data never holds —
  * TIMESTAMP and TIMESTAMP_NTZ `ts`, pre-1970 and sub-second times,
  * duplicate timestamps, gaps of empty panes, null keys, no keys, and
  * `slide ∤ size` shapes. An NTZ `ts` is bucketed as its wall clock read as
  * UTC, so under a non-UTC session paned and native must agree with each
  * other and with the native result under UTC.
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

  private def keys(c: Case): Seq[String] = if (c.keyed) Seq("k") else Seq.empty

  private def rows(df: DataFrame): Vector[String] =
    df.collect().map(_.toSeq.mkString("|")).toVector.sorted

  private def paned(s: SparkSession, c: Case): Vector[String] =
    rows(TimeWindows.aggregatePaned(frame(s, c), col("ts"), c.size, c.slide, keys(c), aggs))

  private def native(s: SparkSession, c: Case): Vector[String] =
    rows(TimeWindows.aggregate(frame(s, c), col("ts"), c.size, c.slide, keys(c), aggs))

  private def epochSecondsHold(s: SparkSession, c: Case): Prop = {
    val got = frame(s, c).select(col("us"), TimeWindows.epochSeconds(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val bad = got.filter { case (us, es) => es != Math.floorDiv(us, Sec) }
    bad.isEmpty :| s"epochSeconds != floor(us / 1e6) for (us, es) ${bad.mkString(", ")}"
  }

  /** Runs `prop` from a random (or GRAFT_PROP_SEED) seed, without
    * shrinking (each case is several Spark jobs), failing with the seed.
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

  test("generated events, UTC session: aggregatePaned == aggregate and epochSeconds is floor") {
    check(30)(Prop.forAllNoShrink(genCase) { c =>
      val (got, want) = (paned(spark, c), native(spark, c))
      ((got == want) :| s"$c\npaned:  $got\nnative: $want") &&
        epochSecondsHold(spark, c)
    })
  }

  test("generated events, non-UTC session: NTZ buckets as wall clock in UTC, LTZ as the instant") {
    val zoned = spark.newSession()
    zoned.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    check(12)(Prop.forAllNoShrink(genCase) { c =>
      // Both strategies, in the same zoned session, must give the UTC
      // session's windows: an instant's do not depend on the zone, and an
      // NTZ wall clock is read as UTC.
      val (got, want, utc) = (paned(zoned, c), native(zoned, c), native(spark, c))
      ((got == want) :| s"$c\npaned:  $got\nnative: $want") &&
        ((want == utc) :| s"$c\nzoned native: $want\nUTC native:   $utc") &&
        epochSecondsHold(zoned, c)
    })
  }
}

object TimeWindowsPropSpec {
  private final case class Ev(key: Option[String], us: Long, value: Int)
  private final case class Case(
      events: Seq[Ev], size: Long, slide: Long, keyed: Boolean, ntz: Boolean)
}
