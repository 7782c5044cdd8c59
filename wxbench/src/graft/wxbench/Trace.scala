package graft.wxbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span. The listener thread bumps these while
  * the client thread reads them only after the bus has drained. */
final class SparkCounts {
  val jobs, stages, tasks, taskRunMs, taskCpuNs, shuffleWrite, shuffleRead,
    spill, gcMs, bytesRead, recordsRead = new AtomicLong
}

/** Counts jobs, stages and task metrics, keyed by the span that was open on
  * the thread that launched the job (the `wxbench.span` local property).
  * Work launched outside any span lands on span 0. */
final class CountingListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Long, SparkCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()

  def counts(span: Long): SparkCounts =
    bySpan.computeIfAbsent(span, _ => new SparkCounts)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    counts(spanOf(e.properties)).jobs.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    counts(s).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs.addAndGet(m.executorRunTime)
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.diskBytesSpilled)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def total(spans: Iterable[Long]): Map[String, Long] = {
    val cs = spans.flatMap(s => Option(bySpan.get(s)))
    def sum(f: SparkCounts => AtomicLong): Long = cs.map(f(_).get).sum
    Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "task_run_ms" -> sum(_.taskRunMs), "task_cpu_ns" -> sum(_.taskCpuNs),
      "shuffle_write" -> sum(_.shuffleWrite), "shuffle_read" -> sum(_.shuffleRead),
      "spill" -> sum(_.spill), "gc_ms" -> sum(_.gcMs),
      "bytes_read" -> sum(_.bytesRead), "records_read" -> sum(_.recordsRead))
  }
}

/** One timed call into a layer: `layer` names the module (plans.optimize,
  * operators.builder, spark.action, sources.open, ...), `call` the public
  * function, `tag` a stage label inherited by nested spans. */
final case class Span(id: Long, layer: String, call: String, tag: String,
    parent: Long, op: Long, start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the single client thread. Disabled, it adds
  * nothing but the by-name call. Each open span is published as the
  * `wxbench.span` SparkContext local property so the listener can attribute
  * the jobs launched under it. */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Sums reported by the layers themselves (candidate counts, bytes, ...). */
  val extras = mutable.LinkedHashMap.empty[String, Double]
  var sc: SparkContext = _
  var op = 0L
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def span[T](layer: String, call: String, tag: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, layer, call,
        Option(tag).orElse(parent.map(_.tag)).getOrElse(""),
        parent.map(_.id).getOrElse(0L), op, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def add(key: String, v: Double): Unit =
    if (enabled) extras(key) = extras.getOrElse(key, 0.0) + v
}

object Tracer {
  val SpanKey = "wxbench.span"
}
