package searchbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of the client thread. `start`/`end` are epoch
  * nanoseconds, so they compare with the listener's epoch-millisecond job
  * times. `request` groups the spans of one workload operation.
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      start: Long, var end: Long = -1L) {
  def ms: Double = (end - start) / 1e6
}

/** Task-metric totals of one stage (or a sum over stages). */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var inBytes = 0L
  var inRows = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L

  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    waitMs += o.waitMs; inBytes += o.inBytes; inRows += o.inRows
    shuffleWrite += o.shuffleWrite; spill += o.spill; outBytes += o.outBytes
  }
}

final class JobRecord(val jobId: Int, val group: String, val startMs: Long,
                      val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Sums Spark task metrics per stage and remembers which job owns which
  * stage, so totals can be attributed to the spans that launched the jobs.
  * Events arrive on the listener-bus thread; read only after
  * [[org.apache.spark.ListenerBusDrain.drain]].
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  val stages = mutable.HashMap.empty[Int, TaskTotals]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new JobRecord(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stages.getOrElseUpdate(e.stageId, new TaskTotals)
    t.tasks += 1
    stageSubmitted.get(e.stageId).foreach(s => t.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inBytes += m.inputMetrics.bytesRead
      t.inRows += m.inputMetrics.recordsRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** What the jobs attributed to one span did. `jobMs` sums job durations;
  * `coveredMs` is the part of the span's wall time during which at least
  * one job ran, so `span wall - coveredMs` is driver-only time.
  */
final case class SpanWork(jobs: Int, jobMs: Double, coveredMs: Double, totals: TaskTotals)

/** Span recorder plus job listener. With `enabled = false` nothing is
  * registered and [[span]] only runs its body, so untraced runs pay nothing.
  *
  * Each span tags the jobs the client thread launches inside it with
  * `setJobGroup(<span id>)`. Jobs launched from other threads (for example
  * IndexBuilder's concurrent checksum job) may carry no tag or a stale one;
  * they go to the innermost span whose wall-clock window contains their
  * start, which is exact because the benchmark has a single client thread.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)

  private val wall0Ns = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def nowNs: Long = wall0Ns + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextRequest = 0
  /** Per-operation switch: traced runs alternate traced and untraced
    * operations to measure the tracing overhead.
    */
  var active: Boolean = enabled

  def newRequest(): Int = { nextRequest += 1; nextRequest }

  def span[A](name: String, request: Int = -1)(body: => A): A = {
    if (!(enabled && active)) return body
    val parent = stack.headOption
    val s = Span(spans.length, name, parent.map(_.id).getOrElse(-1),
      if (request >= 0) request else parent.map(_.request).getOrElse(-1), nowNs)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"searchbench-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = nowNs
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"searchbench-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private var attributed: Option[Map[Int, SpanWork]] = None
  private def work: Map[Int, SpanWork] = {
    if (attributed.isEmpty) attributed = Some(attribute())
    attributed.get
  }

  /** Drop all trace data (after it has been reported and written out). */
  def clear(): Unit = {
    if (enabled) sc.removeSparkListener(listener)
    spans.clear()
    listener.synchronized { listener.jobs.clear(); listener.stages.clear() }
    attributed = None
  }

  private def attribute(): Map[Int, SpanWork] = {
    org.apache.spark.ListenerBusDrain.drain(sc)
    listener.synchronized {
      val bySpan = mutable.HashMap.empty[Int, mutable.ArrayBuffer[JobRecord]]
      // job times have millisecond resolution
      def contains(s: Span, j: JobRecord) =
        s.start - 1000000L <= j.startMs * 1000000L && j.startMs * 1000000L <= s.end
      listener.jobs.values.foreach { j =>
        // a pool thread created inside a span inherits its job group for
        // good, so a tag only counts while its span is open
        val tagged = Option(j.group).filter(_.startsWith("searchbench-"))
          .map(g => spans(g.stripPrefix("searchbench-").toInt)).filter(contains(_, j))
        val owner = tagged.orElse(spans.filter(contains(_, j)).lastOption)
        owner.foreach(s => bySpan.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j)
      }
      bySpan.map { case (id, js) =>
        val s = spans(id)
        val totals = new TaskTotals
        js.foreach(j => j.stageIds.flatMap(listener.stages.get).foreach(totals.add))
        val done = js.filter(_.endMs >= 0)
        val jobMs = done.map(j => (j.endMs - j.startMs).toDouble).sum
        // union of job intervals clipped to the span
        val ivs = done.map(j => (math.max(j.startMs * 1000000L, s.start),
          math.min(j.endMs * 1000000L, s.end))).filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        ivs.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        id -> SpanWork(js.length, jobMs, covered / 1e6, totals)
      }.toMap
    }
  }

  /** Jobs attributed to this span alone (not to its children). */
  def workOf(s: Span): SpanWork =
    work.getOrElse(s.id, SpanWork(0, 0.0, 0.0, new TaskTotals))

  /** Self time: wall time minus the wall time of direct children. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def childrenOf(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Spans are held in memory during the run and written out at its end. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = workOf(s)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_ms":${selfMs(s)}%.3f,""" +
        f""""jobs":${w.jobs},"job_ms":${w.jobMs}%.1f,"tasks":${w.totals.tasks}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
