package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import graft.sinks.{MetricPoint, MetricsSink}

/** Points as the exporter received them, with the wall-clock receive time
  * in epoch milliseconds (fractional).
  */
final case class Received(point: MetricPoint, atMs: Double)

/** Process-wide landing zone for exported points. Spark runs `local[n]`,
  * so sinks constructed inside tasks share this JVM and this object.
  */
object Collect {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val targets = Array.fill(2)(new ConcurrentLinkedQueue[Received]())

  def sinkFor(target: Int): String => MetricsSink = _ => new TargetSink(target)

  /** Removes and returns what target `t` received so far. */
  def drain(t: Int): Vector[Received] = {
    val b = Vector.newBuilder[Received]
    var r = targets(t).poll()
    while (r != null) { b += r; r = targets(t).poll() }
    b.result()
  }

  final class TargetSink(target: Int) extends MetricsSink {
    def write(p: MetricPoint): Unit = targets(target).add(Received(p, nowMs()))
  }
}
