package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program: name, start, end (nanoTime),
  * parent span id (0 at the root) and the thread it ran on. */
final case class Span(id: Long, name: String, parent: Long, thread: Long,
    start: Long, end: Long)

/** Spans around the benchmark's calls into each layer. Off by default:
  * `span` then only runs its body. When on, each span tags the Spark
  * jobs its thread submits (local property [[Trace.Key]]) so the
  * [[JobCounters]] listener sums job and task counters per span. Spans
  * stay in memory until the run ends. */
final class Trace(val enabled: Boolean, sc: => SparkContext) {
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val start = System.nanoTime()
      stack.set(id :: parents)
      sc.setLocalProperty(Trace.Key, id.toString)
      try body
      finally {
        val end = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty(Trace.Key, parents.headOption.map(_.toString).orNull)
        done.add(Span(id, name, parents.headOption.getOrElse(0L),
          Thread.currentThread().getId, start, end))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

object Trace {
  val Key = "perfbench.span"

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover. */
  def selfNanos(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) total += curE - curS
      s.id -> (s.end - s.start - total)
    }.toMap
  }
}

/** Job and task counters summed per span id (from the jobs' local
  * property), plus per-stage task durations for skew. */
final class JobCounters extends SparkListener {
  final class Acc {
    var jobs = 0L
    /** (start, end) wall times of the span's jobs, in ms since epoch. */
    val jobTimes = mutable.ArrayBuffer[(Long, Long)]()
    var taskCpuNanos = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var taskRetries = 0L
  }
  private val lock = new Object
  private val bySpan = mutable.HashMap[Long, Acc]()
  private val stageSpan = mutable.HashMap[Int, Long]()
  private val jobSpan = mutable.HashMap[Int, (Long, Long)]()
  private val stageTasks = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile private var markers = 0L

  private def acc(span: Long) = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key)))
      .map(_.toLong).getOrElse(0L)
    if (span != JobCounters.Marker) acc(span).jobs += 1
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      if (span == JobCounters.Marker) markers += 1
      else acc(span).jobTimes += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, 0L))
    if (e.taskInfo.attemptNumber > 0) a.taskRetries += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.taskCpuNanos += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def forSpan(id: Long): Option[Acc] = lock.synchronized(bySpan.get(id))

  /** Wall time covered by the jobs of the given spans (overlapping jobs
    * counted once), in ns. */
  def jobUnionNanos(spans: Seq[Long]): Long = lock.synchronized {
    val iv = spans.flatMap(bySpan.get).flatMap(_.jobTimes).sortBy(_._1)
    var total = 0L; var s = Long.MinValue; var e = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b } else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total * 1000000L
  }
  def all: Seq[Acc] = lock.synchronized(bySpan.values.toSeq)

  /** Largest max/median task time over stages with at least 2 tasks and
    * at least 100 ms of task time (smaller stages are launch noise). */
  def skewMax: Double = lock.synchronized {
    val ratios = stageTasks.values.filter(t => t.size >= 2 && t.sum >= 100).map { t =>
      val s = t.sorted
      val med = s(s.size / 2).toDouble
      s.last / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Run a marker job and wait until the listener bus has delivered
    * its end, and with it every event posted before. */
  def drain(sc: SparkContext, timeoutMs: Long = 10000): Unit = {
    val want = markers + 1
    val prev = sc.getLocalProperty(Trace.Key)
    sc.setLocalProperty(Trace.Key, JobCounters.Marker.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.Key, prev)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (markers < want && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

object JobCounters {
  val Marker = -1L
}
