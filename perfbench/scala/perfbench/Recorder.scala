package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Minimal JSON rendering for the raw result file (no JSON library on the
  * engine's classpath is part of its API, so the harness renders its own).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }
}

/** Everything one run records: operations (the closed loop's timed units),
  * spans (traced runs only), correctness checks and named samples.
  *
  * Times are epoch milliseconds with sub-millisecond precision, so spans
  * line up with the job times a SparkListener reports.
  */
object Recorder {
  final case class Op(id: Int, kind: String, tag: String, traced: Boolean, t0: Double,
                      t1: Double, var ok: Boolean, var error: String)
  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                        t0: Double, var t1: Double)
  final case class Check(name: String, ok: Boolean, detail: String)
}

final class Recorder(val traced: Boolean) {
  import Recorder._

  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble

  def now(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val checks = ArrayBuffer.empty[Check]
  val samples = collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val info = collection.mutable.LinkedHashMap.empty[String, Any]

  private var currentOp = -1
  private var spansOn = false
  private var spanStack: List[Int] = Nil

  /** Time one closed-loop operation. A thrown error marks it failed and the
    * loop goes on; the error text lands in the raw result. In a traced run
    * the caller picks which operations carry spans (about every other one,
    * so the untraced rest measures the tracing overhead).
    */
  def op(kind: String, tag: String = "", withSpans: Boolean = false)(body: => Unit): Op = {
    val id = ops.size
    currentOp = id
    spansOn = traced && withSpans
    val t0 = now()
    var error: String = null
    val rootSpan = if (spansOn) openSpan(layerOf(kind), if (tag.isEmpty) kind else tag) else -1
    try body catch { case NonFatal(e) => error = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    if (rootSpan >= 0) closeSpan(rootSpan)
    val o = Op(id, kind, tag, spansOn, t0, now(), error == null, error)
    ops += o
    currentOp = -1
    spansOn = false
    o
  }

  private def layerOf(kind: String): String = kind match {
    case k if k.startsWith("elt") => "pipeline"
    case "query" => "queries"
    case "upsert" => "sink"
    case _ => "catalog"
  }

  private def openSpan(layer: String, name: String): Int = {
    val id = spans.size
    spans += Span(id, spanStack.headOption.getOrElse(-1), currentOp, layer, name, now(), -1)
    spanStack = id :: spanStack
    id
  }

  private def closeSpan(id: Int): Unit = {
    spans(id).t1 = now()
    spanStack = spanStack.tail
  }

  /** A traced child span; a plain call when the run is not traced. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!spansOn) body
    else {
      val id = openSpan(layer, name)
      try body finally closeSpan(id)
    }

  /** Forget the operations and spans recorded so far (warm-up). */
  def discard(): Unit = { ops.clear(); spans.clear() }

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += Check(name, ok, detail)
    ok
  }

  /** Record a wrong answer against an operation. */
  def fail(o: Op, why: String): Unit = { o.ok = false; if (o.error == null) o.error = why }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  def timed[A](name: String)(body: => A): A = {
    val t0 = now()
    try body finally sample(name, (now() - t0) / 1000.0)
  }

  def toMap: Map[String, Any] = Map(
    "info" -> info,
    "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "tag" -> o.tag, "traced" -> o.traced,
      "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok, "error" -> Option(o.error))),
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "layer" -> s.layer, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)),
    "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
    "samples" -> samples)
}
