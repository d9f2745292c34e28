package winbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.WinbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters and spans from Spark's public listener and progress APIs:
  * scheduler and shuffle counts from a SparkListener, planning phases and
  * pane/expansion row counts from each executed plan, and trigger spans
  * from a StreamingQueryListener. Attached only in traced runs.
  */
final class Probe(spark: SparkSession, trace: Trace) {
  private val names = Seq(
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.task_ms", "scheduler.cpu_ns", "scheduler.gc_ms",
    "shuffle.write_records", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.spill_bytes", "plans.analysis_ms", "plans.optimization_ms",
    "plans.planning_ms", "operators.pane_rows", "operators.expanded_rows")
  private val counters: Map[String, AtomicLong] =
    names.map(_ -> new AtomicLong).toMap
  private def add(name: String, v: Long): Unit = { counters(name).addAndGet(v); () }

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      jobStarts.put(e.jobId, (e.time, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, parent) =>
        trace.record("scheduler.job", parent, trace.msToNs(t0), trace.msToNs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("scheduler.task_ms", m.executorRunTime)
        add("scheduler.cpu_ns", m.executorCpuTime)
        add("scheduler.gc_ms", m.jvmGCTime)
        add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.spill_bytes", m.diskBytesSpilled)
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, p) =>
        val key = s"plans.${phase}_ms"
        if (counters.contains(key)) {
          add(key, p.durationMs)
          trace.record(s"plans.$phase", -1L, trace.msToNs(p.startTimeMs), trace.msToNs(p.endTimeMs))
        }
      }
      Probe.nodes(qe.executedPlan).foreach {
        case g: GenerateExec =>
          g.metrics.get("numOutputRows").foreach(m => add("operators.expanded_rows", m.value))
        case a: HashAggregateExec
            if a.output.exists(_.name == "__pane") &&
              a.aggregateExpressions.exists(_.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final) =>
          a.metrics.get("numOutputRows").foreach(m => add("operators.pane_rows", m.value))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val row = Probe.progressRow(e.progress)
      val d = row("duration_ms").asInstanceOf[Map[String, Long]]
      // The trigger's phases run in this order inside one micro-batch;
      // laid end to end from the trigger start as child spans.
      val t0 = trace.msToNs(row("start_ms").asInstanceOf[Long])
      val total = d.getOrElse("triggerExecution", 0L)
      val trig = trace.record("streaming.trigger", -1L, t0, t0 + total * 1000000L)
      var at = t0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          d.get(k).foreach { ms =>
            trace.record(s"streaming.$k", trig, at, at + ms * 1000000L)
            at += ms * 1000000L
          }
        }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(execListener)
  spark.streams.addListener(streamListener)
  trace.attach(spark.sparkContext)

  /** Counter values once every event posted so far has been delivered. */
  def snapshot(): Map[String, Long] = {
    WinbenchBridge.drainListenerBus(spark.sparkContext)
    counters.map { case (k, v) => k -> v.get }
  }

  def detach(): Unit = {
    WinbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  /** The fields of one trigger's progress report that the report uses. */
  def progressRow(p: StreamingQueryProgress): Map[String, Any] = {
    val ops = p.stateOperators.toSeq
    Map(
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows_total" -> ops.map(_.numRowsTotal).sum,
      "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
      "state_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
  }

  /** Every physical node of an executed plan, looking through adaptive
    * execution wrappers and query stages.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Counter deltas between two snapshots. */
  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}
