package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** A span at a layer boundary: times are epoch milliseconds, `parent` is the
  * id of the span that caused it ("" for a root).
  */
final case class Span(id: String, name: String, parent: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder; spans are written out once, when the run ends.
  * Wrappers record only while [[on]]. [[now]] is epoch-aligned like Spark's
  * listener timestamps but keeps sub-millisecond resolution.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  @volatile var on = false

  def epochOf(nanoTime: Long): Double = epoch0 + (nanoTime - nano0) / 1e6
  def now: Double = epochOf(System.nanoTime())

  def add(s: Span): Unit = spans.synchronized { spans += s; () }
  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** One JSON object per line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val spans = all
    val self = Trace.selfTimes(spans)
    val lines = spans.map(s =>
      s"""{"id":${Json.str(s.id)},"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
        s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},"self_ms":${Json.num(self(s.id))}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (children clipped to the parent, overlaps
    * counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }

  /** Self time summed per span name, in seconds. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1000.0 }
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Finite numbers only: a non-finite value is not JSON. */
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "0" else x.toString
}
