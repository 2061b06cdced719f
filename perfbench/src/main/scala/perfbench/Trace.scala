package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans for the traced run. A span is opened around each call
  * the benchmark makes into a layer; Spark jobs and stages become child
  * spans of the benchmark span that was active on the driver thread when
  * the job was submitted (carried by the `perfbench.span` local property).
  * Nothing is recorded when tracing is off.
  */
final class Tracer(@volatile var enabled: Boolean) {
  import Tracer._

  val spans = new ArrayBuffer[Span]
  private val stack = new mutable.Stack[Span]
  private var nextId = 1L
  @volatile private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled && stack.nonEmpty)
      sc.setLocalProperty(Property, stack.top.id.toString)
  }

  def current: Option[Span] = synchronized(stack.headOption)

  def open(name: String): Span = synchronized {
    val parent = if (stack.isEmpty) 0L else stack.top.id
    val s = Span(nextId, parent, name, "bench", System.nanoTime)
    nextId += 1
    spans += s
    stack.push(s)
    if (sc != null) sc.setLocalProperty(Property, s.id.toString)
    s
  }

  def close(s: Span): Unit = synchronized {
    s.end = System.nanoTime
    while (stack.nonEmpty && (stack.pop() ne s)) {}
    if (sc != null)
      sc.setLocalProperty(Property,
        if (stack.isEmpty) null else stack.top.id.toString)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = open(name)
      try f finally close(s)
    }

  /** Add finished child spans (Spark jobs and stages) under their parents. */
  def adopt(children: Seq[Span]): Unit = synchronized {
    children.foreach { c => c.id = nextId; nextId += 1; spans += c }
  }
}

object Tracer {
  val Property = "perfbench.span"

  /** Wall-clock milliseconds (Spark's event times) on the nanoTime scale. */
  private val offsetNs = System.currentTimeMillis * 1000000L - System.nanoTime
  def fromMillis(ms: Long): Long = ms * 1000000L - offsetNs

  final case class Span(var id: Long, var parent: Long, name: String,
      kind: String, start: Long, var end: Long = 0L,
      attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty)

  /** Span duration minus the part of it that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }
}

/** Per-job and per-stage Spark metrics for the traced run. Jobs are tagged
  * with the benchmark span that submitted them and with their call site.
  */
final class SparkTrace extends SparkListener {
  import SparkTrace._

  /** Session number: job and stage ids restart with every session. */
  private var gen = 0
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.Property)))
      .map(_.toLong).getOrElse(0L)
    // the last stage of a job is named after the action's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(gen, e.jobId, span, site, Tracer.fromMillis(e.time))
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = Tracer.fromMillis(e.time)
      j.failed = !e.jobResult.isInstanceOf[JobSucceeded.type]
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val st = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      Stage(gen, i.stageId, stageToJob.getOrElse(i.stageId, -1)))
    st.name = i.name
    st.start = Tracer.fromMillis(i.submissionTime.getOrElse(0L))
    st.end = Tracer.fromMillis(i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      Stage(gen, e.stageId, stageToJob.getOrElse(e.stageId, -1)))
    val info = e.taskInfo
    st.tasks += 1
    if (info.failed || info.killed) st.failedTasks += 1
    jobs.get(st.job).foreach(j =>
      j.lastTaskEnd = math.max(j.lastTaskEnd, Tracer.fromMillis(info.finishTime)))
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.inputBytes += m.inputMetrics.bytesRead
      st.outputBytes += m.outputMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.taskTimes += m.executorRunTime
    }
  }

  def snapshot(): (Seq[Job], Seq[Stage]) = synchronized {
    (jobs.values.toSeq, stages.values.toSeq)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stageToJob.clear(); stages.clear()
    gen += 1
  }
}

object SparkTrace {
  final case class Job(gen: Int, id: Int, span: Long, site: String, start: Long,
      var end: Long = 0L, var lastTaskEnd: Long = 0L,
      var failed: Boolean = false)

  final case class Stage(gen: Int, id: Int, job: Int, var name: String = "",
      var start: Long = 0L, var end: Long = 0L, var tasks: Int = 0,
      var failedTasks: Int = 0, var runMs: Long = 0L,
      var cpuNs: Long = 0L, var gcMs: Long = 0L, var inputBytes: Long = 0L,
      var outputBytes: Long = 0L, var shuffleRead: Long = 0L,
      var shuffleWrite: Long = 0L, var spill: Long = 0L,
      taskTimes: ArrayBuffer[Long] = new ArrayBuffer[Long])
}
