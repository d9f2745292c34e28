package graft

import scala.io.Source

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import graft.streaming.{Replay, Streams}

/** [[Replay]], the one driver of a replayed streaming query: its n-part
  * chunking on generated keys, empty and one-row input, the final
  * watermark applied by a no-data trigger, the posture's conf restore when the query
  * fails, and that no fixture under `queries/` drives a replay by hand.
  *
  * The seed is random per run and printed on failure; set GRAFT_PROP_SEED to
  * the printed value to replay it.
  */
class ReplaySpec extends SparkTestBase {
  import spark.implicits._

  /** Sorted keys drawn from a small range (runs of equal keys), 1–8 parts. */
  private val genKeys: Gen[(IndexedSeq[Long], Int)] = for {
    n <- Gen.choose(0, 60)
    hi <- Gen.oneOf(3L, 20L, 1000L)
    keys <- Gen.listOfN(n, Gen.choose(0L, hi))
    parts <- Gen.choose(1, 8)
  } yield (keys.sorted.toIndexedSeq, parts)

  test("n-part chunking covers every row once, in order, and never cuts a run of equal keys") {
    propCheck(300)(Prop.forAllNoShrink(genKeys) { case (keys, n) =>
      val rows = keys.zipWithIndex
      val parts = Replay.split(rows, n)(_._1)
      val sizes = parts.map(_.size)
      val distinct = keys.distinct.size == keys.size
      ((parts.flatten == rows) :| "every row once, in order") &&
        (parts.forall(_.nonEmpty) && parts.size <= n) :| s"non-empty, at most $n: $sizes" &&
        parts.sliding(2).forall {
          case Seq(a, b) => a.last._1 < b.head._1
          case _ => true
        } :| s"a cut inside a run of equal keys: ${parts.map(_.map(_._1))}" &&
        (!distinct || sizes.isEmpty || sizes.max - sizes.min <= 1) :| s"not near-equal: $sizes" &&
        (!distinct || parts.size == math.min(n, keys.size)) :| s"${parts.size} parts of $n"
    })
  }

  test("parts sorts collected rows by the order columns, ties in collected order") {
    val gen = for {
      n <- Gen.choose(1, 40)
      evs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 3L)))
      parts <- Gen.choose(1, 4)
    } yield (evs, parts)
    propCheck(10)(Prop.forAllNoShrink(gen) { case (evs, n) =>
      val df = evs.zipWithIndex.map { case ((a, b), i) => (a, b, i) }.toDF("a", "b", "i")
      val got = Replay.parts(df, n, "a", "b").triggers.flatten
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val want = evs.zipWithIndex.map { case ((a, b), i) => (a, b, i) }.sortBy(e => (e._1, e._2))
      (got == want) :| s"got $got"
    })
  }

  test("empty and one-row input replay") {
    val empty = Replay.parts(Seq.empty[(Long, String)].toDF("k", "v"), 2, "k")
    assert(empty.triggers.isEmpty)
    assert(Replay(spark, empty, "replay_empty")(identity).count() == 0)

    val one = Replay.parts(Seq((7L, "x")).toDF("k", "v"), 2, "k")
    assert(one.triggers.map(_.size) == Seq(1))
    val out = Replay(spark, one, "replay_one")(identity)
    assert(out.as[(Long, String)].collect().toSeq == Seq((7L, "x")))
    assert(out.columns.toSeq == Seq("k", "v"))
  }

  test("no-data triggers apply the final watermark in any session") {
    // 10 s tumbling windows, delay 0; the last event (10 s) ends window 0,
    // which only a trigger after the last data trigger can emit
    val events = Seq(1L, 4L, 10L).toDF("es")
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    Streams.withConf(spark, noData -> "false") {
      val out = Replay(spark, Replay.parts(events, 2, "es"), "replay_final") { st =>
        st.withColumn("ts", timestamp_seconds(col("es")))
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "10 seconds")).count()
          .select(col("window.start").cast("long"))
      }
      assert(out.as[Long].collect().toSet == Set(0L))
      assert(spark.conf.get(noData) == "false", "the posture must restore the session's value")
    }
  }

  test("a failing replay restores the conf it set, unset keys included, and stops its query") {
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val partitions = "spark.sql.shuffle.partitions"
    val prevPartitions = spark.conf.get(partitions)
    spark.conf.unset(changelog)
    spark.conf.unset(provider)
    spark.conf.set(partitions, "3")
    // getAll holds only the keys set on the session, not defaults
    def isSet(k: String) = spark.conf.getAll.contains(k)
    assert(!isSet(changelog) && !isSet(provider))
    try {
      val boom = udf((k: Long) => { if (k >= 0) throw new IllegalStateException("boom"); k })
      val chunks = Replay.parts(Seq(1L, 2L, 3L).toDF("k"), 2, "k")
      intercept[Exception] {
        Replay(spark, chunks, "replay_fail")(_.select(boom(col("k")).as("k")))
      }
      assert(!isSet(changelog) && !isSet(provider))
      assert(spark.conf.get(partitions) == "3")
      assert(spark.streams.active.isEmpty)
    } finally spark.conf.set(partitions, prevPartitions)
  }

  test("no fixture under queries/ builds a MemoryStream or sets shuffle partitions by hand") {
    // fixture name -> why it keeps its own MemoryStream
    val allowed = Map(
      "q_stream_warc_ingest" ->
        "adds 8 blocks before one trigger, for 8 partitions; a trigger per block would raise its job count",
      "q_stream_ivm_two_writers" ->
        "interleaves the triggers of two streams (A, B, A, B) on one lake")
    val hand = """MemoryStream\s*\[|conf\.(get|set)\("spark\.sql\.shuffle\.partitions"""".r
    val fixtureName = """Fixture\(\s*"([a-z0-9_]+)"""".r
    val files = new java.io.File("src/main/scala/graft/queries").listFiles
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = files.flatMap { f =>
      val src = { val in = Source.fromFile(f, "UTF-8"); try in.mkString finally in.close() }
      hand.findAllMatchIn(src).map { m =>
        val fixture = fixtureName.findAllMatchIn(src.substring(0, m.start))
          .toSeq.lastOption.fold("?")(_.group(1))
        val line = src.substring(0, m.start).count(_ == '\n') + 1
        (fixture, m.matched.startsWith("MemoryStream"), s"${f.getName}:$line $fixture: ${m.matched}")
      }
    }
    val offenders = hits.collect { case (fx, ms, at) if !(ms && allowed.contains(fx)) => at }
    assert(offenders.isEmpty, "replay by hand; use graft.streaming.Replay:\n" +
      offenders.mkString("\n"))
    // every allow-list entry is still in use
    assert(hits.map(_._1).toSet == allowed.keySet, hits)
  }
}
