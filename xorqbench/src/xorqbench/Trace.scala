package xorqbench

import scala.collection.mutable

/** One timed step of one operation. */
final case class Span(op: Int, name: String, parent: String,
    startNs: Long, endNs: Long)

/** Outcome of one workload operation. `layer` holds the traced run's
  * per-layer values for this operation. */
final class Op(val id: Int, val kind: String) {
  var startNs = 0L
  var endNs = 0L
  /** Host steal seconds (all CPUs) while the operation ran. */
  var stealS = 0.0
  var ok = true
  var error = ""
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
  def fail(why: String): Unit = { ok = false; if (error.isEmpty) error = why }
  def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v
}

/** Step timer of the traced run: with tracing off a step is just the
  * call; with it on, the step's wall time is added to the operation
  * under the layer metric `metric` (and to the operation's sum of
  * layer self times) and kept as a span. */
final class Trace(var on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def step[T](op: Op, metric: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      val r = f
      val t1 = System.nanoTime()
      op.add(metric, (t1 - t0) / 1e6)
      op.add("trace.self_sum_ms", (t1 - t0) / 1e6)
      spans.synchronized { spans += Span(op.id, metric, op.kind, t0, t1) }
      r
    }

  /** Spans as JSON lines, written once at the end of the run. */
  def write(path: java.nio.file.Path): Unit = if (spans.nonEmpty) {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.synchronized(spans.foreach { s =>
      w.write(s"""{"op":${s.op},"name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    })
    finally w.close()
  }
}
