package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 data for speed. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Unique per-run temp path. Fixed /tmp names leak state across JVM
    * sessions: a previous run's leftover directory changes what a
    * list-the-directory assertion sees (the LakeVacuumSpec alternation).
    */
  def freshDir(tag: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${tag}_${System.nanoTime}").getAbsolutePath

  /** Runs `body`, returning the WARN (or worse) messages Spark's timer
    * state (`TimerStateImpl`) logged meanwhile.
    */
  def timerWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("timer-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith(".TimerStateImpl") && e.getLevel.isMoreSpecificThan(Level.WARN))
          got.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    got.toArray(Array.empty[String]).toSeq
  }

  /** Runs the ScalaCheck `prop` from a random (or GRAFT_PROP_SEED) seed,
    * without shrinking (each case is several Spark jobs), failing with the
    * seed.
    */
  def propCheck(minOk: Int)(prop: org.scalacheck.Prop): Unit = {
    import org.scalacheck.rng.Seed
    val seed = sys.env.get("GRAFT_PROP_SEED")
      .map(Seed.fromBase64(_).get).getOrElse(Seed.random())
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(minOk).withWorkers(1).withInitialSeed(seed)
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed,
      s"failed with GRAFT_PROP_SEED=${seed.toBase64}: " +
        org.scalacheck.util.Pretty.pretty(res, org.scalacheck.util.Pretty.Params(2)))
  }

  /** Order-insensitive equality of two DataFrames with identical schemas. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.sorted.sameElements(b.columns.sorted),
      s"schemas differ: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    val cols = a.columns.sorted.toIndexedSeq
    val as = a.select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    val bs = b.select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(as.length == bs.length, s"row counts differ: ${as.length} vs ${bs.length}")
    as.zip(bs).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs: $x vs $y")
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = LocalSession(cpus = 4)
}
