package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. A span is one call into a
  * layer (`sources`, `streaming`, `enrichment`, `queries`), tagged with
  * the unit of work it belongs to (one id per micro-batch or query) and
  * its parent span on the same thread. Spans are only kept when tracing
  * is on, and are written out once, after the measurement.
  */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Long, parent: Long, layer: String, name: String,
      unit: String, startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String, unit: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, layer, name, unit, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per layer in ms: each span's duration minus the time of
    * its direct children, summed by layer.
    */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.endNs - s.startNs)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "unit" -> s.unit, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Minimal JSON writer for the harness's raw output (numbers, strings,
  * booleans, maps and sequences).
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}
