package winbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext

/** One timed interval. `parent` is the id of the span that caused it, 0 for
  * a root, and -1 when the recording thread does not know it (the first span
  * on a thread, events that arrive on a listener thread); the report then
  * takes the innermost enclosing span.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. The benchmark wraps each call it makes into a
  * layer in [[span]]; listener-derived intervals come in through [[record]].
  * When disabled, [[span]] only runs its body.
  */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var sc: Option[SparkContext] = None

  /** Clock pair that maps listener epoch-millisecond times onto nanoTime. */
  val baseNs: Long = System.nanoTime()
  val baseMs: Long = System.currentTimeMillis()
  def msToNs(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L

  /** Jobs submitted inside a span carry its id as a local property, which
    * the listener turns into the job span's parent.
    */
  def attach(context: SparkContext): Unit = sc = Some(context)

  private def current: Long = stack.get.headOption.getOrElse(-1L)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get)
      sc.foreach(_.setLocalProperty(Trace.SpanKey, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.foreach(_.setLocalProperty(Trace.SpanKey,
          if (parent <= 0L) null else parent.toString))
        spans.add(Span(id, parent, name, t0, t1))
      }
    }

  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, name, startNs, math.max(startNs, endNs)))
    id
  }

  def toJson: Seq[Map[String, Any]] = {
    val all = Vector.newBuilder[Map[String, Any]]
    spans.forEach { s =>
      all += Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> (s.startNs - baseNs), "end_ns" -> (s.endNs - baseNs))
    }
    all.result().sortBy(m => m("start_ns").asInstanceOf[Long])
  }
}

object Trace {
  val SpanKey = "winbench.span"
}
