package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-regression smoke: replicate the driver's sf0.1 tables `factor`×
  * (id-shifted per replica) into a scratch dir — an sf≈1 dataset the
  * harness doesn't ship — and run the named fixtures against it, timing
  * each. The goal is the next scale cliff, not correctness (the oracles
  * already pass at sf0.1): does every plan complete at 10× without OOM,
  * spill pathology, or superlinear wall-time?
  *
  * Replication semantics:
  *  - `documents`/`embeddings`: ids shift by `k · 10M`; payloads stay
  *    byte-identical, so every doc gains `factor−1` exact twins — the
  *    WORST case for the dedup tier (cluster sizes ×factor, candidate
  *    pairs ×factor² inside each near-dup family), deliberately kept as a
  *    skew stress.
  *  - `events`: event/user ids shift, timestamps do NOT — every window
  *    holds factor× rows, the way real traffic growth lands on a fixed
  *    window size.
  *  - dimension tables copy through unchanged (no fixture in the smoke
  *    set reads them at scale).
  *
  * Usage: runMain graft.ScaleSmoke <srcSfDir> <destDir> <factor> <q1,q2,…>
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = args(2).toInt
    val queries = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = LocalSession()

    val OFF = 10000000L
    def replicate(df: DataFrame, idCols: Seq[String]): DataFrame =
      (0 until factor).map { k =>
        idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * OFF)))
      }.reduce(_ unionAll _)

    new java.io.File(dest).mkdirs()
    def land(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[smoke] landed $name")
    }
    if (!new java.io.File(s"$dest/_SMOKE_READY").exists()) {
      land("documents", replicate(Tables.documents(spark, src), Seq("doc_id")))
      land("embeddings", replicate(Tables.embeddings(spark, src), Seq("vec_id")))
      // events.ts normalizes through Tables.events (nanos legacy form);
      // re-landing writes plain TIMESTAMP(MICROS), which Tables reads fine
      land("events", replicate(Tables.events(spark, src), Seq("event_id", "user_id")))
      // the STAR schema replicates CONSISTENTLY (join keys shift in
      // lockstep across fact and dims), so the star/snowflake IVM and
      // MV fixtures scale with the factor too: every replica is a
      // disjoint copy of the whole fact⋈orders⋈customer subgraph
      land("lineitem", replicate(Tables.lineitem(spark, src),
        Seq("l_orderkey")))
      land("orders", replicate(Tables.orders(spark, src),
        Seq("o_orderkey", "o_custkey")))
      land("customer", replicate(Tables.customer(spark, src),
        Seq("c_custkey")))
      for (t <- Seq("region", "nation", "supplier", "part"))
        land(t, Tables.load(spark, src, t))
      new java.io.File(s"$dest/_SMOKE_READY").createNewFile()
    } else println(s"[smoke] reusing $dest")

    // pseudo-query: the WARC tier's worst case — the ENTIRE corpus in one
    // container file, so the record walk is a single task (parallelism's
    // unit is the file). Probes the per-task O(bytes) bound the many-file
    // fixture never exercises; not a fixture because production answers
    // this with file splitting at ingest, not a faster single task.
    val warcBigFile: (SparkSession, String) => DataFrame = (s, dir) =>
      graft.sources.Warc.ingestResponses(s, graft.sources.Warc
        .syntheticWarcFiles(s, Tables.documents(s, dir), docsPerFile = Int.MaxValue))

    val results = queries.map { name =>
      val fn = if (name == "warc_bigfile") warcBigFile else SparkEntry.queries(name)
      val session = spark.newSession()
      def once(): Double = {
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        try {
          fn(session, dest).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          println(s"[smoke] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          -1.0
        }
      }
      val cold = once()
      val warm = if (cold >= 0) once() else -1.0
      println(f"[smoke] $name%-28s cold $cold%8.2f s   warm $warm%8.2f s")
      (name, cold, warm)
    }
    val json = results.map { case (n, c, w) =>
      f""""$n":{"cold":$c%.2f,"warm":$w%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"sf1_smoke","factor":$factor,"queries":$json}""")
    spark.stop()
  }
}
