package graft

import org.apache.spark.sql.SparkSession

/** The one local session that Bench, Verify, Explain, ScaleSmoke and the
  * test base build, so that every entry point runs fixtures under the same
  * settings: UTC session time (the zone the DuckDB oracle uses),
  * [[streaming.Streams.checkpointFiles]], a generated-class cache large
  * enough for every fixture's plans, and as many shuffle partitions as
  * cores.
  */
object LocalSession {

  /** Cores when `SPARK_GRAFT_CPUS` is unset. */
  val DefaultCpus = 4

  /** `SPARK_GRAFT_CPUS`, or [[DefaultCpus]]. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(DefaultCpus)(_.toInt)

  def apply(cpus: Int = LocalSession.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 50 distinct query plans thrash the default 100-entry generated-class
      // cache; evicted classes force re-JIT mid-run and charge one query for
      // another's codegen. Static conf: set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config(Map(streaming.Streams.checkpointFiles))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
