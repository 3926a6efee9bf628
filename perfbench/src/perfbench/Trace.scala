package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval around a call into the engine, opened and closed on the
  * benchmark's single client thread. `op` is the id of the top-level
  * operation (one loop step, or one setup/check phase) the span belongs to. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  var failed: Boolean = false
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Benchmark-side span tracer. Spans are kept in memory and written out when
  * the run ends. When `tagJobs` is set, each open span is published as a
  * Spark local property on the client thread, so every job that thread
  * submits carries the id of the innermost span that caused it. */
final class Tracer(sc: SparkContext, tagJobs: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var lastOp = 0

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Run `f` as a new top-level operation. */
  def op[A](name: String)(f: => A): (A, Span) = {
    require(stack.isEmpty, s"op '$name' opened inside '${stack.head.name}'")
    lastOp += 1
    run(name, lastOp, f)
  }

  /** Run `f` as a child of the innermost open span. */
  def span[A](name: String)(f: => A): (A, Span) =
    run(name, stack.headOption.map(_.op).getOrElse(0), f)

  private def run[A](name: String, op: Int, f: => A): (A, Span) = {
    val s = synchronized {
      val sp = new Span(buf.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      buf += sp
      sp
    }
    stack = s :: stack
    if (tagJobs) sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try {
      val a = f
      (a, s)
    } catch {
      case e: Throwable => s.failed = true; throw e
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (tagJobs) sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Innermost span whose interval holds wall-clock time `ms` (-1 if none).
    * Spans nest on one thread, so the latest-started match is innermost. */
  def spanAt(ms: Long): Int = synchronized {
    var i = buf.size - 1
    while (i >= 0) {
      val s = buf(i)
      if (s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs)) return s.id
      i -= 1
    }
    -1
  }

  /** Self time: the span's duration minus the time its child spans cover. */
  def selfSeconds(all: Seq[Span]): Map[Int, Double] = {
    val childSum = all.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    all.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Outside-in Spark listener, registered only by the benchmark. Each job is
  * attributed to the span tagged on the thread that submitted it; jobs
  * without a tag (submitted from engine-internal threads) are attributed to
  * the span open at the job's start time and counted in `untaggedJobs`. */
final class SpanListener(tracer: Tracer) extends SparkListener {

  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0; var retries = 0; var pinJobs = 0
    var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var outBytes = 0L
    var inRecords = 0L; var inBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    /** stage id → (task time sum, task time max, task count) */
    val stageTasks = mutable.Map.empty[Int, (Long, Long, Int)]
  }

  private val bySpan = mutable.Map.empty[Int, Acc]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var started = 0
  private var ended = 0
  private var taskEvents = 0L
  var untaggedJobs = 0

  private def acc(span: Int): Acc = bySpan.getOrElseUpdate(span, new Acc)

  def get(span: Int): Option[Acc] = synchronized(bySpan.get(span))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val props = Option(e.properties)
    val sid = props.flatMap(p => Option(p.getProperty(Tracer.Prop))).map(_.toInt)
      .getOrElse { untaggedJobs += 1; tracer.spanAt(e.time) }
    jobSpan(e.jobId) = (sid, e.time)
    e.stageIds.foreach(stageSpan(_) = sid)
    val a = acc(sid)
    a.jobs += 1
    a.stages += e.stageIds.size
    // Dataset.localCheckpoint names its job after the call; the SQL INSERT
    // pin is the only localCheckpoint on these paths
    if (e.stageInfos.exists(_.name.startsWith("localCheckpoint"))) a.pinJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobSpan.remove(e.jobId).foreach { case (sid, t0) => acc(sid).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskEvents += 1
    stageSpan.get(e.stageId).foreach { sid =>
      val a = acc(sid)
      a.tasks += 1
      if (e.reason != Success || e.taskInfo.attemptNumber > 0) a.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.inRecords += m.inputMetrics.recordsRead
        a.inBytes += m.inputMetrics.bytesRead
        val (sum, mx, n) = a.stageTasks.getOrElse(e.stageId, (0L, 0L, 0))
        a.stageTasks(e.stageId) = (sum + m.executorRunTime, math.max(mx, m.executorRunTime), n + 1)
      }
    }
  }

  /** Block until every started job has ended and no task event arrived for
    * a few polls: listener delivery is asynchronous. */
  def awaitQuiet(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val (s, e, t) = synchronized((started, ended, taskEvents))
      if (s == e && t == last) quiet += 1 else quiet = 0
      last = t
    }
  }
}
