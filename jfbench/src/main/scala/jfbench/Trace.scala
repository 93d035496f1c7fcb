package jfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `op` is the id of the operation span (a daily run, a
  * request) the interval belongs to; a root span has `op == 0`.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long)

/** Spark work attributed to one job: its span, interval and task totals. */
final class JobStat(val span: Long, val start: Long) {
  @volatile var end: Long = 0L
  val taskNanos = new AtomicLong
  val records = new AtomicLong
  val shuffleBytes = new AtomicLong
  val queueNanos = new AtomicLong
}

/** Span recorder plus a SparkListener that charges each Spark job to the span
  * that submitted it. The span id rides in a Spark local property, which
  * threads the bench starts (and the `Deadline` threads the program starts
  * inside a span) inherit. With tracing off every call is a plain pass-through
  * and no listener is registered.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Key

  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private final case class Open(id: Long, name: String, op: Long, start: Long)
  private val current = new ThreadLocal[Open]

  // job intervals arrive in wall-clock ms; spans use nanoTime
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private def toNanos(wallMs: Long): Long = nano0 + (wallMs - wall0) * 1000000L

  val jobs = new ConcurrentHashMap[Int, JobStat]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobStat(span, toNanos(e.time)))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = toNanos(e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      // the first task launch of a stage ends that stage's wait for slots
      Option(stageSubmitted.remove(e.stageId)).foreach { sub =>
        job(e.stageId).foreach(_.queueNanos.addAndGet(
          math.max(0L, e.taskInfo.launchTime - sub) * 1000000L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- job(e.stageId); m <- Option(e.taskMetrics)) {
        j.taskNanos.addAndGet(m.executorRunTime * 1000000L)
        j.records.addAndGet(m.inputMetrics.recordsRead)
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    private def job(stageId: Int): Option[JobStat] =
      Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))
  }
  if (enabled) sc.addSparkListener(listener)

  /** Times `body` as a span named `name`, a child of this thread's current
    * span. `root` starts a new tree; the first span below a root is an op.
    */
  def span[T](name: String, root: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (root) null else current.get
      val id = ids.incrementAndGet()
      val op = if (parent == null) 0L else if (parent.op == 0L) id else parent.op
      val open = Open(id, name, op, System.nanoTime())
      current.set(open)
      sc.setLocalProperty(Key, id.toString)
      try body
      finally {
        done.add(Span(id, name, if (parent == null) 0L else parent.id, op,
          open.start, System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(Key, if (parent == null) null else parent.id.toString)
      }
    }

  /** Runs `body` with no span property, for threads that must not inherit
    * one (a server whose worker threads outlive any single request).
    */
  def detached[T](body: => T): T = {
    val saved = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, null)
    try body finally sc.setLocalProperty(Key, saved)
  }

  /** Waits (up to 10 s) for the listener to see the end of every job. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (jobs.values.asScala.exists(_.end == 0L) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def spans: Seq[Span] = done.asScala.toSeq
}

object Tracer {
  val Key = "jfbench.span"

  /** Total length of the union of `[start, end)` intervals. */
  def unionNanos(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Span time not covered by the span's own children. */
  def selfNanos(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNanos(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** Samples used heap at 20 Hz; `peakMb` is the largest sample. */
final class HeapSampler extends AutoCloseable {
  @volatile private var peak = 0L
  @volatile private var running = true
  private val rt = Runtime.getRuntime
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
      Thread.sleep(50)
    }
  }, "jfbench-heap")
  thread.setDaemon(true)
  thread.start()
  def peakMb: Double = peak / 1048576.0
  def close(): Unit = { running = false; thread.join() }
}
