package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** In-memory spans around every call the benchmark makes into an engine
  * layer. Spans are kept in a queue and written once, when the run
  * ends; nothing is recorded unless the run is traced.
  *
  * Parents: a span opened on the driver thread is the parent of spans
  * opened inside it, and of every Spark job that thread submits (the
  * span id rides the job as a local property). Streaming progress
  * phases are synthesized as children of their micro-batch span, whose
  * id is derived from the batch id.
  */
object Trace {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
      batch: Long, startNs: Long, endNs: Long)

  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString
  val SpanProperty = "perfbench.span"

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long]

  /** Wall-clock origin shared by nanoTime spans and epoch-ms events. */
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def nsOfEpochMs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  def batchSpanId(batch: Long): Long = (1L << 40) + batch

  def span[T](s: SparkSession, layer: String, name: String,
      batch: Long = -1L, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = current.get()
      val p = if (parent >= 0) parent else if (outer == null) 0L else outer.longValue
      val sc = s.sparkContext
      val prevProp = sc.getLocalProperty(SpanProperty)
      current.set(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, layer, name, batch, t0, System.nanoTime()))
        current.set(outer)
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  def record(parent: Long, layer: String, name: String, batch: Long,
      startNs: Long, endNs: Long, id: Long = -1L): Unit =
    if (enabled)
      spans.add(Span(if (id >= 0) id else ids.incrementAndGet(), parent,
        layer, name, batch, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer (ms): each span's duration minus the part of
    * its interval that its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, mine) =>
      layer -> mine.map { sp =>
        val kids = children.getOrElse(sp.id, Nil)
          .map(k => (math.max(k.startNs, sp.startNs), math.min(k.endNs, sp.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        for ((a, b) <- kids) {
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else if (b > curB) curB = b
        }
        if (curB > curA) covered += curB - curA
        (sp.endNs - sp.startNs - covered).toDouble / 1e6
      }.sum
    }
  }

  /** One JSON document (the run's result, a trace line). */
  def json(doc: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(doc)(org.json4s.DefaultFormats)

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { sp =>
      out.println(json(Map(
        "run" -> runId, "id" -> sp.id, "parent" -> sp.parent,
        "layer" -> sp.layer, "name" -> sp.name, "batch" -> sp.batch,
        "start_us" -> (sp.startNs - originNs) / 1000,
        "dur_us" -> (sp.endNs - sp.startNs) / 1000)))
    } finally out.close()
  }
}
