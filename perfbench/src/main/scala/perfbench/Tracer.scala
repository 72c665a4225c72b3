package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One timed region at a layer boundary. `parent` is the id of the span
  * open on the same thread when this one began (0 = none); `kind` tags
  * the client operation a server-side span served ("read", "list",
  * "head", "commit"), when the harness can tell. `n` carries one count
  * measured at the boundary (directory entries seen by a version scan,
  * bytes of a document), -1 when the span has none. */
final case class Span(id: Long, parent: Long, name: String, start: Long,
                      end: Long, thread: Long, kind: String, n: Long)

/** In-memory span recorder. Spans stay in memory until the run ends and
  * are written out once, so recording costs a queue append. Untraced
  * runs use the program's own classes and no tracer at all. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Time `body` as a span; `n` is read when the span closes. */
  def span[T](name: String, kind: String = "", n: => Long = -1L)(body: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    open.set(id :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(stack)
      spans.add(Span(id, stack.headOption.getOrElse(0L), name, t0, t1,
        Thread.currentThread().getId, kind, n))
    }
  }

  /** Record a span whose bounds were measured by the caller. */
  def record(name: String, start: Long, end: Long, kind: String, n: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), open.get().headOption.getOrElse(0L),
      name, start, end, Thread.currentThread().getId, kind, n))

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.id)
  }
}
