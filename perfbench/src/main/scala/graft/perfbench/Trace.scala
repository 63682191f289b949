package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed interval of bench-side work. `parent` is the enclosing span's
  * id (-1 at top level); `run` identifies the workload run the span belongs
  * to. Times are `System.nanoTime`. */
final case class Span(id: Long, name: String, parent: Long, run: Int,
    startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** One Spark job as the listener saw it. `group` is the job group the
  * submitting thread carried; times are epoch milliseconds. */
final class JobRec(val id: Int, val group: Option[String], val startMs: Long) {
  var endMs: Long = startMs
  var tasks: Int = 0
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  var peakExecMem: Long = 0L
}

/** Records per-job counts. Jobs are keyed by the job group the bench sets
  * per span ([[Tracer]]), so attribution needs nothing from the engine. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
    jobs(e.jobId) = new JobRec(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** Bench-side spans around the calls into each engine layer. With tracing
  * off a span is just its body; with tracing on it records (name, start,
  * end, parent, run) in memory and scopes a job group to the span on the
  * calling thread, so the listener can attribute every Spark job. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 0L
  /** phase the next spans belong to: 0 set-up, 1 write, 2 read, 3 checks */
  var run: Int = 0
  val listener: Option[JobListener] =
    if (on) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None
  /** epoch-ms = (nanoTime + offsetNs) / 1e6, for aligning spans with jobs */
  val offsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1L)
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      val prevDesc = sc.getLocalProperty(Tracer.DescKey)
      sc.setLocalProperty(Tracer.GroupKey, Tracer.groupOf(id))
      sc.setLocalProperty(Tracer.DescKey, name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.GroupKey, prevGroup)
        sc.setLocalProperty(Tracer.DescKey, prevDesc)
        spans += Span(id, name, parent, run, t0, t1)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"
  val GroupPrefix = "perfbench-span-"
  def groupOf(id: Long): String = GroupPrefix + id
}

/** Per-layer figures derived from recorded spans and jobs. */
object Layers {

  /** Total length of the union of closed intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    val s = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    s.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  final case class Attributed(bySpan: Map[Long, Seq[JobRec]], unattributed: Seq[JobRec])

  /** A job belongs to the span whose group it carries, provided it started
    * while that span was open (a pooled thread can carry a stale group from
    * the span that created it; such jobs count as unattributed). Only jobs
    * starting inside one of `windows` (epoch-ms) are considered. */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec], offsetNs: Long,
      windows: Seq[(Long, Long)]): Attributed = {
    val byId = spans.map(s => s.id -> s).toMap
    def ms(ns: Long): Long = (ns + offsetNs) / 1000000L
    val inWindow = jobs.filter(j => windows.exists { case (a, b) => j.startMs >= a && j.startMs <= b })
    val (ok, bad) = inWindow.partition { j =>
      j.group.filter(_.startsWith(Tracer.GroupPrefix))
        .flatMap(g => byId.get(g.stripPrefix(Tracer.GroupPrefix).toLong))
        .exists(s => j.startMs >= ms(s.startNs) - 1 && j.startMs <= ms(s.endNs) + 1)
    }
    Attributed(ok.groupBy(_.group.get.stripPrefix(Tracer.GroupPrefix).toLong), bad)
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfNs(s: Span, children: Map[Long, Seq[Span]]): Long =
    (s.endNs - s.startNs) -
      unionLen(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))

  /** All descendants of `s` (not `s` itself). */
  def descendants(s: Span, children: Map[Long, Seq[Span]]): Seq[Span] =
    children.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c, children))
}
