package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed interval: an op's root span or a call inside it. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String, val startNs: Long) {
  var endNs: Long = startNs
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the benchmark thread. Disabled, `span` only
  * runs its body, so the untraced run pays nothing. Spans are written out
  * once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1

  def spans: Seq[Span] = recorded.toSeq

  /** Forgets every span so far (the untimed warm pass). */
  def clear(): Unit = recorded.clear()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(recorded.size, stack.headOption.fold(-1)(_.id), op, name, System.nanoTime())
      recorded += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** The root span of op `id`; the returned span carries the op's counts. */
  def root[A](id: Int, name: String)(body: => A): (A, Option[Span]) =
    if (!enabled) (body, None)
    else {
      op = id
      var s: Span = null
      val r = span("op." + name) { s = recorded.last; body }
      (r, Some(s))
    }

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children run sequentially on this thread, so they do
    * not overlap one another). */
  def selfNs: Map[Int, Long] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    recorded.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    recorded.map(s => s.id -> (s.durNs - childNs(s.id))).toMap
  }

  /** One JSON object per span, in start order. */
  def writeJsonl(file: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = recorded.map { s =>
      val counts = s.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},"counts":{$counts}}"""
    }
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.writeString(file, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the benchmark's own output. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
