package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, layer, name, pass, start, end) in nanoTime
  * units. Spans nest per thread: the innermost open span on the calling
  * thread is the parent. Nothing is written until the run ends
  * ([[all]]), and with tracing off [[span]] is a plain call.
  */
object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        pass: Int, start: Long, end: Long)

  @volatile var on: Boolean = false
  @volatile var pass: Int = 0

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[java.util.ArrayDeque[Integer]](
    () => new java.util.ArrayDeque[Integer]())

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = if (stack.isEmpty) 0 else stack.peek().intValue
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans.add(Span(id, parent, layer, name, pass, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def json: String = all.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "pass" -> s.pass, "start" -> s.start, "end" -> s.end)
  }.mkString("[", ",\n", "]")
}
