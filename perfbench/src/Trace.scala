package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded span. `query` groups the spans of one operation (0 for
  * phase-level spans); `parent` is the enclosing span id (0 = root). */
final case class Span(id: Long, parent: Long, query: Long, phase: String,
    name: String, startNs: Long, endNs: Long, value: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's own calls into graft's layers. Disabled,
  * `span` is a plain call and nothing is kept. Spans stay in memory until
  * [[write]]. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def nextId(): Long = ids.incrementAndGet()

  def span[A](phase: String, name: String, query: Long, parent: Long = 0L,
      id: Long = 0L)(f: => A): A =
    spanV(phase, name, query, parent, id)(f)(_ => 0L)

  /** Time `f` as span `name`; `value` extracts a count from the result
    * (entries returned, rows, …). */
  def spanV[A](phase: String, name: String, query: Long, parent: Long,
      id: Long)(f: => A)(value: A => Long): A =
    if (!enabled) f
    else {
      val sid = if (id != 0L) id else nextId()
      val t0 = System.nanoTime()
      val a = f
      spans.add(Span(sid, parent, query, phase, name, t0, System.nanoTime(), value(a)))
      a
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"query":${s.query},""" +
        s""""phase":"${s.phase}","name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"value":${s.value}}""")
      w.write('\n')
    } finally w.close()
  }
}

/** Spark work counted by a listener the benchmark registers. */
final class SparkCounters extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val executorMs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskMetrics != null) executorMs.addAndGet(e.taskMetrics.executorRunTime)
    ()
  }

  def snap(): SparkSnap = SparkSnap(jobs.get, stages.get, tasks.get, executorMs.get)
}

final case class SparkSnap(jobs: Long, stages: Long, tasks: Long, executorMs: Long) {
  def -(o: SparkSnap): SparkSnap =
    SparkSnap(jobs - o.jobs, stages - o.stages, tasks - o.tasks, executorMs - o.executorMs)
  def +(o: SparkSnap): SparkSnap =
    SparkSnap(jobs + o.jobs, stages + o.stages, tasks + o.tasks, executorMs + o.executorMs)
}

/** JVM counters from the MXBeans and `/proc/self/io` (`rchar`: bytes the
  * process read through system calls, page-cache hits included). */
final case class JvmSnap(gcMs: Long, gcCount: Long, jitMs: Long, rchar: Long) {
  def -(o: JvmSnap): JvmSnap =
    JvmSnap(gcMs - o.gcMs, gcCount - o.gcCount, jitMs - o.jitMs, rchar - o.rchar)
  def +(o: JvmSnap): JvmSnap =
    JvmSnap(gcMs + o.gcMs, gcCount + o.gcCount, jitMs + o.jitMs, rchar + o.rchar)
}

object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def rchar(): Long =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst { case l if l.startsWith("rchar:") => l.drop(6).trim.toLong }
      finally src.close()
    }.toOption.flatten.getOrElse(0L)

  def snap(): JvmSnap =
    JvmSnap(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
      rchar())

  /** Bytes allocated so far by the calling thread. */
  def threadAllocated(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Heap in use right after a full collection, in MB (10^6 bytes): the
    * least of three collections 100 ms apart, so that garbage that other
    * threads release late (Spark's cleaner, background cache fills) and
    * their allocations between collection and read do not count. */
  def liveHeapMb(): Double =
    (0 until 3).map { i =>
      if (i > 0) Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min / 1e6
}
