package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `id` is also the value of the Spark local
  * property [[Trace.SpanKey]] while the call runs, which is how Spark jobs
  * are attributed to it: threads the call starts inherit the property, so
  * jobs submitted from a pool inside the call still carry the span. */
final case class Span(id: String, layer: String, name: String,
                      parent: Option[String], startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SparkCounts {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskNs = new LongAdder
  val maxTaskNs = new AtomicLong
  val shuffleBytes = new LongAdder
  val inputBytes = new LongAdder
  val spillBytes = new LongAdder
}

/** Span-tagged job, stage and task accounting. Attribution is by the
  * local property the harness sets, never by call site. */
final class SpanListener extends SparkListener {
  private val counts = new ConcurrentHashMap[String, SparkCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val seen = new LongAdder

  private def of(span: String): SparkCounts = counts.computeIfAbsent(span, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .getOrElse("untagged")
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).jobs.increment()
    of(span).stages.add(e.stageIds.size.toLong)
    seen.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    seen.increment()
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrDefault(e.stageId, "untagged"))
      val ns = m.executorRunTime * 1000000L
      c.tasks.increment()
      c.taskNs.add(ns)
      c.maxTaskNs.accumulateAndGet(ns, (a: Long, b: Long) => math.max(a, b))
      c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Listener events arrive asynchronously: wait until none have arrived
    * for a while (bounded), then read. */
  def settle(): Unit = {
    var last = -1L; var quiet = 0; var spins = 0
    while (quiet < 3 && spins < 100) {
      val now = seen.sum
      if (now == last) quiet += 1 else quiet = 0
      last = now; spins += 1
      Thread.sleep(50)
    }
  }

  def apply(span: String): SparkCounts = of(span)
}

/** In-memory span log. Spans are always timed (two `nanoTime` reads); the
  * listener and the trace file exist only in a traced run. */
final class Trace(sc: SparkContext, val traced: Boolean) {
  val spans = ArrayBuffer[Span]()
  val listener: Option[SpanListener] =
    if (traced) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None
  private var next = 0
  private var current: Option[String] = None

  /** Run `body` as one span of `layer`, tagging its Spark jobs. */
  def span[T](layer: String, name: String)(body: => T): T = {
    next += 1
    val id = s"$layer:$name:$next"
    val parent = current
    val prevTag = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, id)
    current = Some(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.synchronized { spans += Span(id, layer, name, parent, t0, t1) }
      sc.setLocalProperty(Trace.SpanKey, prevTag)
      current = parent
    }
  }

  def last: Span = spans.last
  def ofLayer(layer: String): Seq[Span] = spans.filter(_.layer == layer).toSeq
}

object Trace {
  val SpanKey = "perfbench.span"
}
