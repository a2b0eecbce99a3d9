package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** Spark-side counters of one span instance, filled by [[SpanListener]]
  * from the jobs tagged with the span's job group. Counters of a child
  * span are NOT included in its parent's: each span sets its own group,
  * so these are self counts by construction. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var lastJobEndMs = 0L
}

/** Attributes task metrics to the job group that submitted them. Only
  * groups this benchmark sets (prefix [[Tracer.GroupPrefix]]) count. */
final class SpanListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()

  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(Tracer.GroupPrefix)) {
      counters(g).jobs += 1
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { g =>
      val c = counters(g)
      c.lastJobEndMs = math.max(c.lastJobEndMs, e.time)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = counters(g)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** One timed interval. `request` is the pass, batch or ask it serves
  * ("setup-<i>" for set-up work); `parent` is -1 for a request root. */
final case class Span(id: Int, name: String, parent: Int, request: String,
                      startMs: Long, startNs: Long, var endNs: Long = -1L,
                      var items: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Span recorder. With tracing off `span` only runs its body, so the
  * untraced run pays nothing; with tracing on every span sets its own
  * Spark job group and the listener attributes each job to it. Spans
  * stay in memory until the run ends. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var request = "setup"
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), request,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Add `n` to the innermost open span's item count (queries
    * searched, vectors indexed). */
  def count(n: Long): Unit = stack.headOption.foreach(_.items += n)

  /** Add `n` to the item count of the latest span named `name`, for a
    * count known only after the span closed. */
  def countLast(name: String, n: Long): Unit =
    spans.reverseIterator.find(_.name == name).foreach(_.items += n)

  /** Counters of span `s`; call after [[drain]]. */
  def counters(s: Span): Counters =
    listener.flatMap(l => Option(l.byGroup.get(Tracer.GroupPrefix + s.id)))
      .getOrElse(new Counters)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftBenchBus.drain(sc)
}

object Tracer {
  val GroupPrefix = "graftbench-"
}
