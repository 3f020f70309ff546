package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval around a call into a layer. Times are epoch ms. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span log, written out once at the end of a traced run. Spans
  * are recorded by the benchmark around calls into the program, never
  * inside it.
  */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(0) // 0 = no parent

  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, parent, name, startMs, endMs)
    id
  }

  /** Times `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = synchronized(open.head)
    val t0 = Collect.nowMs()
    val id = add(name, parent, t0, t0)
    synchronized { open = id :: open }
    try body
    finally synchronized {
      open = open.tail
      spans(id - 1) = spans(id - 1).copy(endMs = Collect.nowMs())
    }
  }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** A span's duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0.0
    var reach = s.startMs
    kids.foreach { case (a, b) =>
      if (b > reach) { covered += b - (a max reach); reach = b }
    }
    s.ms - covered
  }

  /** Sum of self time over spans with this name, in seconds. */
  def selfS(name: String): Double = all.filter(_.name == name).map(selfMs).sum / 1000

  /** Writes the spans, then the task counters of each job group. */
  def write(path: java.nio.file.Path, counters: LayerCounters): Unit = {
    val lines = all.map(s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "self_ms": ${selfMs(s)}%.3f}""") ++
      counters.groups.map { case (g, c) =>
        s"""{"group": "$g", "shuffle_bytes": ${c.shuffleBytes.get}, "spill_bytes": ${c.spillBytes.get}, """ +
          s""""run_ms": ${c.runMs.get}, "gc_ms": ${c.gcMs.get}}"""
      }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task counters per Spark job group: each layer call runs under its own
  * group, so shuffle, spill, run time and GC time land on that layer.
  */
final class LayerCounters extends SparkListener {
  final class C {
    val shuffleBytes, spillBytes, runMs, gcMs = new AtomicLong
  }
  private val byGroup = new ConcurrentHashMap[String, C]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val events = new AtomicLong
  /** Every task, whatever its group. */
  val all = new C

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => js.stageIds.foreach(stageGroup.put(_, g)))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(te.stageId)
    if (te.taskMetrics != null) {
      val m = te.taskMetrics
      (Option(g).map(byGroup.computeIfAbsent(_, _ => new C)).toSeq :+ all).foreach { c =>
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.runMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
    events.incrementAndGet()
  }

  def get(group: String): C = byGroup.computeIfAbsent(group, _ => new C)
  def groups: Seq[(String, C)] = byGroup.asScala.toSeq.sortBy(_._1)

  /** Listener delivery is asynchronous: wait until no event arrives for
    * 200 ms (at most 3 s), after which the totals are final.
    */
  def settle(): Unit = {
    var prev = -1L
    val deadline = System.currentTimeMillis() + 3000
    while (events.get != prev && System.currentTimeMillis() < deadline) {
      prev = events.get
      Thread.sleep(200)
    }
  }
}

/** JVM-wide GC time and heap high-water mark since `reset`. */
object Jvm {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private var gc0 = 0L

  def reset(): Unit = { gc0 = gcMs; heapPools.foreach(_.resetPeakUsage()) }
  def gcS: Double = (gcMs - gc0) / 1000.0
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
