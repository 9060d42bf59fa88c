package perfbench

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON writer: the harness emits a handful of flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** In-memory spans: name, start, end (ms since the run began), parent span
  * and op id. Disabled tracers record nothing; spans are written once, at
  * the end of a traced run.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  val t0: Long = System.nanoTime()
  val epoch0: Long = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      val start = nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        synchronized { spans += Span(id, name, start, nowMs, parent, op) }
      }
    }

  /** A span timed by someone else (a Spark job), given in epoch ms. */
  def external(name: String, startEpochMs: Long, endEpochMs: Long,
               parent: Int, op: Int): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, name, (startEpochMs - epoch0).toDouble,
        (endEpochMs - epoch0).toDouble, parent, op)
    }

  def current: Int = stack.headOption.getOrElse(0)

  def write(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.sortBy(_.id).toList).map(s => Json.obj(
      "id" -> s.id.toString, "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
      "parent" -> s.parent.toString, "op" -> s.op.toString))
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, start: Double, end: Double,
                        parent: Int, op: Int)
}
