package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `parent` is -1 for a root span; `attrs` holds
  * the counters recorded at the same boundary. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest by call structure; nothing is
  * written until [[write]] at the end of a run. */
final class Tracer {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  /** Runs `f` inside a span; `attrs` is evaluated after `f` returns,
    * so it may read counters that `f` moved. */
  def span[T](name: String)(f: => T)(attrs: => Map[String, Double] = Map.empty): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = System.nanoTime()
    try {
      val r = f
      val end = System.nanoTime()
      done += Span(id, parent, name, start, end, attrs)
      r
    } finally stack = stack.tail
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)) += '\n'
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Self time of each span: its duration minus the part of it that
    * its direct children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.ms).sum
      s.id -> (s.ms - covered)
    }.toMap
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
}
