package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Every `StreamingQueryProgress` of the session, kept in arrival order
  * (a query's own `recentProgress` is a bounded ring). Always installed:
  * the end-to-end numbers of the stream workloads are read from it. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  def of(name: String): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.name == name).toSeq

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Spark job, task and stage counters for the measured window, plus one
  * span per job (parented to the benchmark span that submitted it).
  * Installed only in traced runs. */
final class JobsListener extends SparkListener {
  @volatile var measuring = false
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  /** (startMs, endMs) of every measured job, for the driver-gap union. */
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (measuring) {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.SpanProperty))).map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (e.time, parent))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
      jobs.incrementAndGet()
      intervals.add((t0, e.time))
      Trace.record(parent, "jobs", s"job ${e.jobId}", -1L,
        Trace.nsOfEpochMs(t0), Trace.nsOfEpochMs(e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (measuring && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
    }

  /** Largest max/median task-time ratio over stages with >= 2 tasks. */
  def taskSkew: Double = stageTaskMs.values.asScala.map(_.asScala.toSeq.sorted)
    .filter(_.size >= 2).map { ts =>
      val med = math.max(1L, ts(ts.size / 2))
      ts.last.toDouble / med
    }.maxOption.getOrElse(1.0)

  /** Window time no measured job covered. */
  def driverGapMs(windowStartMs: Long, windowEndMs: Long): Double = {
    val iv = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, windowStartMs), math.min(b, windowEndMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = 0L
    for ((a, b) <- iv) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    covered += curB - curA
    (windowEndMs - windowStartMs - covered).toDouble
  }
}

/** JVM-wide collection time (ms), summed over all collectors. */
object Gc {
  def totalMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after a full collection, in MB: the collector's
    * own after-collection figure for the heap pools, so allocations by
    * other threads after the collection do not count. Collections are
    * spaced so Spark's cleaner can drop the blocks of objects the
    * previous one freed; the smallest figure is kept. */
  def liveHeapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => b }
    val afterGc = (0 until 3).map { i =>
      if (i > 0) Thread.sleep(300)
      System.gc()
      beans.flatMap(b => Option(b.getLastGcInfo)).maxBy(_.getEndTime)
        .getMemoryUsageAfterGc.asScala.collect {
          case (pool, use) if heapPools(pool) => use.getUsed
        }.sum
    }
    afterGc.min.toDouble / (1024.0 * 1024.0)
  }
}
