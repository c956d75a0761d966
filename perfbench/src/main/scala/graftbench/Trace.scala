package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. A span wraps one call the harness makes into
  * a layer's public function; spans of one closed-loop op share `op`.
  * While a span is open its id is the thread's Spark job group, so the
  * [[EngineListener]] can attribute every Spark job to the innermost span
  * that caused it. Disabled, `span` is a plain call.
  */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
      startNs: Long, endNs: Long, attrs: Map[String, String])

  @volatile var enabled = false
  @volatile var currentOp: Long = -1L
  private var sc: SparkContext = _
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(1L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  /** Time spent inside the recorder itself (span bookkeeping). */
  val recorderNs = new AtomicLong(0L)

  def start(context: SparkContext): Unit = { sc = context; enabled = true }

  def span[T](layer: String, name: String, attrs: Map[String, String] = Map.empty)(f: => T): T = {
    if (!enabled) return f
    val r0 = System.nanoTime()
    val id = ids.getAndIncrement()
    val outer = stack.get
    stack.set(id :: outer)
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val start = System.nanoTime()
    recorderNs.addAndGet(start - r0)
    try f
    finally {
      val end = System.nanoTime()
      stack.set(outer)
      outer.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans.synchronized {
        spans += Span(id, outer.headOption.getOrElse(0L), currentOp, layer, name, start, end, attrs)
      }
      recorderNs.addAndGet(System.nanoTime() - end)
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Engine counters from Spark's listener bus: jobs (with the span that
  * started them), tasks, task busy time, shuffle/input/output bytes, GC
  * and spill. Registered only for traced runs.
  */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long = -1L)

  val jobs = ArrayBuffer.empty[Job]
  val tasks = new AtomicLong
  val taskBusyMs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val gcMs = new AtomicLong
  val spillBytes = new AtomicLong
  private val ended = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(e.jobId, group.getOrElse(""), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.synchronized(jobs.find(_.id == e.jobId).foreach(_.endMs = e.time))
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskBusyMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait (bounded) until every started job's end event was delivered. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    def started: Long = jobs.synchronized(jobs.size).toLong
    while (ended.get < started && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events
  }

  def counters: Map[String, Long] = Map(
    "jobs" -> jobs.synchronized(jobs.size.toLong), "tasks" -> tasks.get,
    "task_busy_ms" -> taskBusyMs.get, "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "input_bytes" -> inputBytes.get,
    "output_bytes" -> outputBytes.get, "gc_ms" -> gcMs.get, "spill_bytes" -> spillBytes.get)
}
