package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One span: a call into a layer, made from the benchmark's own code. */
final case class Span(traceId: String, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"trace":"${Json.esc(traceId)}","id":$id,"parent":$parent,""" +
      s""""name":"${Json.esc(name)}","start_ns":$startNs,"end_ns":$endNs}"""
}

/** In-memory span recorder. Disabled, [[span]] runs its body and records
  * nothing, so the untimed and timed paths run the same calls.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)

  /** Runs `body` inside a span; `body` receives the span id, to pass as
    * the parent of nested spans (0 when tracing is off).
    */
  def span[A](name: String, traceId: String, parent: Long = 0L)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(traceId, id, parent, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, all.map(_.json).asJava)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** A flat JSON object from already-rendered values. */
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
