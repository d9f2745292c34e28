package graft

/** Ad-hoc plan/timing inspector:
  * runMain graft.Explain <sfDir> <query> [explain|time] [iters]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val mode = if (args.length > 2) args(2) else "time"
    // args(3) is the out DIR in dump mode and the iteration COUNT elsewhere
    val iters = if (args.length > 3) args(3).toIntOption.getOrElse(2) else 2
    val spark = LocalSession()
    mode match {
      case "explain" => SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      case "dump" =>
        // single-query Verify: result parquet + a one-entry oracle_sql.json,
        // so scripts/check.py can gate one fixture during iteration
        val outDir = if (args.length > 3) args(3) else s"/tmp/graft_dump_$name"
        new java.io.File(outDir).mkdirs()
        SparkEntry.queries(name)(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        val sql = SparkEntry.oracleSql.get(name).map(s =>
          s.flatMap {
            case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
            case '\r' => "\\r"; case '\t' => "\\t"
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c => c.toString
          })
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
          sql.fold("{}")(s => s"""{"$name": "$s"}"""))
        println(s"[dump] $outDir")
      case "timefresh" =>
        // exactly Bench's per-attempt shape: fresh child session per run —
        // isolates newSession-correlated overhead from same-session warmth
        (1 to iters).foreach { i =>
          spark.catalog.clearCache()
          System.gc()
          Thread.sleep(250)
          val session = spark.newSession()
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(session, sfDir)
            .write.format("noop").mode("overwrite").save()
          println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case _ =>
        // rebuild inside the timed block: eager checkpoints in operators like
        // Dedup.clusters do real work at build time
        // noop sink, same as Bench: a bare count() lets Catalyst prune the
        // query down to row counting, so timings wouldn't reproduce BENCH
        (1 to iters).foreach { i =>
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          // same settle as Bench: without it, run N's garbage (shuffle
          // buffers, broadcast blocks) lands in run N+1's wall clock
          spark.catalog.clearCache()
          System.gc()
          Thread.sleep(250)
        }
    }
    spark.stop()
  }
}
