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
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Map(graft.streaming.Streams.checkpointFiles))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
