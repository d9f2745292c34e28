package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.FileReplay

/** The file-source replay stager: contiguous ascending ranges, mtime
  * ordering that matches name ordering (what FileStreamSource sorts by),
  * and staging idempotence via the recipe
  * marker. The streaming fixtures prove the stager end-to-end under
  * oracles; this pins the mechanics directly.
  */
class FileReplaySpec extends SparkTestBase {

  private def ids(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).map(i => (i, s"v$i")).toDF("id", "v")
  }

  test("files carry contiguous ascending ranges in name and mtime order") {
    val dir = freshDir("replay_order")
    FileReplay.stageOrdered(ids(100), dir, "id", 8)
    val parts = Files.list(Paths.get(dir)).iterator()
    val named = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    parts.forEachRemaining(p =>
      if (p.getFileName.toString.startsWith("part-")) named += p)
    val sorted = named.sortBy(_.getFileName.toString)
    assert(sorted.size == 8)
    // mtime order == name order (the listing order a file stream uses)
    val times = sorted.map(Files.getLastModifiedTime(_).toMillis)
    assert(times == times.sorted && times.distinct.size == times.size,
      s"mtimes must strictly ascend in name order: $times")
    // each file holds one contiguous range; ranges ascend across files
    var prevMax = -1L
    sorted.foreach { p =>
      val vals = spark.read.parquet(p.toString)
        .select("id").collect().map(_.getLong(0)).sorted
      assert(vals.nonEmpty)
      assert(vals.head > prevMax,
        s"file ${p.getFileName} overlaps the previous range")
      assert(vals.last - vals.head + 1 == vals.length,
        s"file ${p.getFileName} range has holes: ${vals.mkString(",")}")
      prevMax = vals.last
    }
    // nothing lost or duplicated across the staging
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("the marker makes staging idempotent; a changed recipe re-stages") {
    val dir = freshDir("replay_marker")
    FileReplay.stageOrdered(ids(40), dir, "id", 4)
    val all = Files.list(Paths.get(dir)).iterator()
    val parts = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    all.forEachRemaining(p =>
      if (p.getFileName.toString.startsWith("part-")) parts += p)
    assert(parts.size == 4, s"4 range files, got ${parts.size}")

    // idempotence: a second call with the same recipe rewrites nothing
    val stamps = parts.map(p => p -> Files.getLastModifiedTime(p)).toMap
    FileReplay.stageOrdered(ids(40), dir, "id", 4)
    stamps.foreach { case (p, t) =>
      assert(Files.getLastModifiedTime(p) == t, s"$p was re-staged")
    }

    // a different recipe (schema change) DOES re-stage
    FileReplay.stageOrdered(ids(40).withColumn("extra", lit(1)), dir, "id", 4)
    assert(spark.read.parquet(dir).columns.contains("extra"),
      "changed recipe must invalidate stale staging")
  }
}
