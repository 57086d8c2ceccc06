package perfbench

import scala.collection.mutable

/** In-memory spans and counts, written out once when the run ends.
  *
  * A span names a layer boundary the benchmark crosses (a call into the
  * program plus the action that forces it). Spans of one operation share
  * `op`; `parent` is the enclosing span's id, or -1 at the top. */
final class Trace {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](op: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, op, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  def count(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  /** Mean duration per `op` of the spans called `name` (0 when none). */
  def meanSeconds(name: String): Double = {
    val s = spans.filter(_.name == name)
    if (s.isEmpty) 0.0 else s.map(_.seconds).sum / s.map(_.op).distinct.size
  }

  /** Mean over the spans called `name` of their duration minus the part
    * their direct children cover. */
  def meanSelfSeconds(name: String): Double = {
    val s = spans.filter(_.name == name)
    if (s.isEmpty) 0.0
    else s.map(p => p.seconds - spans.filter(_.parent == p.id).map(_.seconds).sum)
      .sum / s.size
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"span":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""") ++
      counts.map { case (k, v) => s"""{"count":${Json.str(k)},"value":${Json.num(v)}}""" }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, op: String, name: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric value $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
