package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

final case class Span(id: Long, parent: Long, name: String, request: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; each span also becomes
  * the Spark job key of its thread while it is open, so jobs are attributed
  * to the innermost span that submitted them. */
final class Tracer(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val origin: Long = System.nanoTime()

  def span[A](request: String, name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try JobProbe.keyed(sc, s"span:$id")(body)
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      spans.add(Span(id, parent, name, request, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Span duration minus the durations of its direct children. */
  def selfMs: Map[Long, Double] = {
    val s = all
    val childMs = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    s.map(x => x.id -> (x.ms - childMs.getOrElse(x.id, 0.0))).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { x =>
      w.write(Json.write(Map(
        "id" -> x.id, "parent" -> x.parent, "name" -> x.name, "request" -> x.request,
        "start_ns" -> (x.startNs - origin), "end_ns" -> (x.endNs - origin))))
      w.newLine()
    } finally w.close()
  }
}
