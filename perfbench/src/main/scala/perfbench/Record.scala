package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Wall clock in epoch nanoseconds with nanoTime resolution, so harness
  * timestamps and Spark listener timestamps (epoch millis) share one axis. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One failed operation: its exception class and the first line of its
  * message. */
object Failure {
  def of(e: Throwable): Map[String, String] = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .toSeq.last
    val msg = Option(e.getMessage).orElse(Option(root.getMessage))
      .getOrElse("").linesIterator.nextOption().getOrElse("")
    Map("error_class" -> e.getClass.getName, "error" -> msg.take(300))
  }
}

/** In-memory span log. Spans are recorded only when tracing is on; the
  * untraced run pays one branch per boundary. Each span has a name, a
  * layer, start, end and the id of the span that caused it. The id of
  * the innermost open span on a thread is also set as a Spark local
  * property, so the engine listener can attribute jobs to it. */
final class Tracer(val enabled: Boolean) {
  import Tracer.SpanProperty
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def current: Option[Long] = stack.get.headOption

  /** Run `body` inside a span that is the parent of anything recorded,
    * and of any Spark job started, on this thread meanwhile. */
  def span[T](name: String, layer: String,
      spark: Option[org.apache.spark.sql.SparkSession] = None,
      attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get)
      spark.foreach(_.sparkContext.setLocalProperty(SpanProperty, id.toString))
      val start = Clock.now()
      try body
      finally {
        val end = Clock.now()
        stack.set(stack.get.tail)
        spark.foreach(_.sparkContext.setLocalProperty(SpanProperty,
          current.map(_.toString).orNull))
        spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
          "layer" -> layer, "start_ns" -> start, "end_ns" -> end) ++ attrs)
      }
    }

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq
}

object Tracer {
  /** The Spark local property that carries the open span's id. */
  val SpanProperty = "perfbench.span"
}
