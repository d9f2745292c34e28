package winbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload receives: the session, the run parameters, and the
  * optional tracing hooks.
  */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    work: File,
    trace: Trace,
    probe: Option[Probe]) {
  def traced: Boolean = probe.isDefined
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** JVM entry point of one benchmark run. Writes the raw run record
  * (`raw.json`: samples, counters, spans, run conditions) into the work
  * directory; `run.py` turns it into metrics.
  *
  * Usage: winbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --cores C --work DIR
  */
object Main {
  /** Shuffle partitions, pinned per workload. The stream's state holds 16
    * keys, so one partition: one state store per stateful operator, and no
    * trigger waits on the slowest of several tasks. The batch shuffle
    * spreads over three task threads.
    */
  def partitions(workload: String): Int = if (workload == "stream_sliding_openloop") 1 else 3

  def session(cores: Int, partitions: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("winbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = new File(opts("work"))
    work.mkdirs()
    val runtime = ManagementFactory.getRuntimeMXBean

    val spark = session(cores, partitions(workload), work)
    val sessionS = (System.currentTimeMillis() - runtime.getStartTime) / 1000.0
    val trace = new Trace(traced)
    val probe = if (traced) Some(new Probe(spark, trace)) else None
    val ctx = Ctx(spark, seed, seconds, work, trace, probe)

    val result: Map[String, Any] =
      try {
        workload match {
          case "stream_sliding_openloop" => StreamWorkload.run(ctx)
          case "batch_sliding_large" => BatchWorkload.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    probe.foreach(_.detach())
    val spans = trace.toJson
    spark.stop()

    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val record = Map(
      "workload" -> workload,
      "seed" -> seed,
      "seconds" -> seconds,
      "traced" -> traced,
      "cores" -> cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "shuffle_partitions" -> partitions(workload),
      "jvm_flags" -> runtime.getInputArguments.asScala.toSeq,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "session_s" -> sessionS,
      "calib_ms" -> Host.calibrate(),
      "heap_peak_mb" -> heapPeakMb,
      "spans" -> spans) ++ result
    Files.writeString(Paths.get(work.getPath, "raw.json"), Json.write(record))
  }
}

/** JSON text of nested Scala maps, sequences, arrays and values. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Host speed reference: a fixed pure-JVM integer loop, so that a change in
  * every timing can be told apart from a change in the code.
  */
object Host {
  def calibrate(rounds: Int = 5): Seq[Double] = (1 to rounds).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** Timing helpers shared by the workloads. */
object Clock {
  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Repeats the set-up `rounds` times; the last round's value is kept and
    * every round's wall time is reported (the report takes the median).
    */
  def setupRounds[T](rounds: Int)(body: => T): (T, Seq[Double]) = {
    val results = (1 to rounds).map(_ => secondsOf(body))
    (results.last._1, results.map(_._2))
  }

  /** SplitMix64: the deterministic input generator shared by Spark-side
    * generation and the plain-Scala folds that check the outputs.
    */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
