package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as the timestamps Spark's listener events carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double, attrs: Map[String, Any])

/** Span recorder. Spans are kept in memory and written out once, when the
  * run ends. With tracing off every call is a pass-through. */
final class Tracer(val on: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var current: Long = 0L

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, parent: Long, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty, id: Long = nextId()): Long = {
    if (on) spans.add(Span(id, parent, name, start, end, attrs))
    id
  }

  /** Run `body` inside a span named `name`, child of the current span. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    if (!on) return body
    val id = nextId()
    val parent = current
    current = id
    val t0 = Clock.now()
    try body
    finally {
      spans.add(Span(id, parent, name, t0, Clock.now(), attrs))
      current = parent
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Counters a [[Probe]] accumulates; `minus` gives the work of one interval
  * (its `maxTaskMs` is the later snapshot's), `plus` adds two intervals. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, maxTaskMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    blocksWritten: Long = 0,
    analysisMs: Double = 0, optimizationMs: Double = 0, planningMs: Double = 0) {
  def minus(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs,
    cpuNs - o.cpuNs, gcMs - o.gcMs, maxTaskMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, blocksWritten - o.blocksWritten,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs, planningMs - o.planningMs)
  def plus(o: Counts): Counts = Counts(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, math.max(maxTaskMs, o.maxTaskMs), shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, blocksWritten + o.blocksWritten,
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs, planningMs + o.planningMs)
}

/** Per-layer counts from Spark's public listeners: jobs, stages and task
  * metrics from [[SparkListener]], cached-block sizes from block updates,
  * and the analysis / optimization / planning phases of every executed
  * query from `QueryExecution.tracker`. Jobs become `spark.job` spans,
  * parented to the span that was current on the submitting thread. */
final class Probe(spark: SparkSession, tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private var c = Counts()
  private val jobStart = mutable.Map.empty[Int, (Double, Long)]
  /** (start, end) of every finished job and planning phase, epoch ms. */
  val busy = new ConcurrentLinkedQueue[(Double, Double)]()
  private val cached = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  var cachedPeak = 0L

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counts = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized(c)
  }

  def resetMaxTask(): Unit = synchronized { c = c.copy(maxTaskMs = 0) }
  def resetCachePeak(): Unit = synchronized { cachedPeak = cachedNow }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobStart(e.jobId) = (e.time.toDouble, parent)
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent) =>
      busy.add((t0, e.time.toDouble))
      tracer.record("spark.job", parent, t0, e.time.toDouble, Map("job" -> e.jobId))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c = c.copy(
        tasks = c.tasks + 1,
        taskMs = c.taskMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration),
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      val before = cached.getOrElse(info.blockId.name, 0L)
      if (size > 0 && before == 0) c = c.copy(blocksWritten = c.blocksWritten + 1)
      if (size > 0) cached(info.blockId.name) = size else cached.remove(info.blockId.name)
      cachedNow += size - before
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    ph.values.foreach(p => busy.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
    c = c.copy(
      analysisMs = c.analysisMs + ms("analysis"),
      optimizationMs = c.optimizationMs + ms("optimization"),
      planningMs = c.planningMs + ms("planning"))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Milliseconds of [t0, t1] covered by no job and no planning phase. */
  def idleMs(t0: Double, t1: Double): Double = {
    val iv = busy.asScala.toSeq.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) covered += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) covered += ce - cs
    (t1 - t0) - covered
  }
}

object Probe {
  /** Local property that carries the current span id to `onJobStart`. */
  val SpanKey = "graftbench.span"
}
