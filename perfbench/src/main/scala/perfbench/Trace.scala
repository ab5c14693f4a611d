package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call at a layer boundary. Times are epoch milliseconds with
  * sub-millisecond resolution; `parent` is -1 for an operation's root
  * span; every span of one file, commit or query shares `opId`. */
final case class Span(
    id: Int, name: String, opId: Int, parent: Int, start: Double, end: Double) {
  def duration: Double = end - start
}

/** Spans recorded from the benchmark's own code around each call into
  * the program. Kept in memory; written out when the run ends. A
  * disabled tracer runs the body and records nothing, so the untraced
  * runs share the same code path. Single client thread by design. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Tag

  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private var nextId = 0
  private var nextOp = 0
  private var currentOp = -1
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Epoch milliseconds on the monotonic clock, comparable to the
    * millisecond times Spark stamps on job events. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  /** A root span: one operation (a file, a commit, a query). */
  def op[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      require(stack.isEmpty, s"operation $name opened inside another")
      currentOp = nextOp; nextOp += 1
      span(name)(body)
    }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val previousTag = sc.getLocalProperty(Tag)
      sc.setLocalProperty(Tag, id.toString)
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        sc.setLocalProperty(Tag, previousTag)
        spans += Span(id, name, currentOp, parent, start, end)
      }
    }
}

object Tracer {
  /** Spark local property carrying the open span's id into the jobs the
    * client thread submits. */
  val Tag = "perfbench.span"
}

/** Spark counters of one job, summed over its tasks. */
final class JobStats(val jobId: Int, val tag: Option[Int], val submitMs: Double) {
  var endMs: Double = Double.NaN
  var tasks = 0L
  var executorCpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Records every job with its tag and task counters. Events arrive on
  * Spark's listener thread; read the result only after the bus has
  * drained. */
final class JobCounters extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Tag)))
      .flatMap(_.toIntOption)
    val j = new JobStats(e.jobId, tag, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.executorCpuMs += m.executorCpuTime / 1e6
      j.gcMs += m.jvmGCTime.toDouble
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Seq[JobStats] = synchronized(jobs.values.toSeq)
}

/** Spans joined with the jobs they caused. */
final class TraceReport(spans: Seq[Span], jobs: Seq[JobStats]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val children = spans.groupBy(_.parent)

  /** Each job goes to the span whose tag it carries. A job submitted from
    * a pooled thread the program owns can carry a stale tag inherited
    * when that thread was created; such a job, and any untagged one, goes
    * to the innermost span open when it was submitted. */
  val jobsOf: Map[Int, Seq[JobStats]] = {
    def covers(s: Span, t: Double) = s.start - 1 <= t && t <= s.end + 1
    jobs.flatMap { j =>
      j.tag.flatMap(byId.get).filter(covers(_, j.submitMs))
        .orElse(spans.filter(covers(_, j.submitMs)).maxByOption(_.start))
        .map(_.id -> j)
    }.groupMap(_._1)(_._2)
  }

  def roots: Seq[Span] = children.getOrElse(-1, Nil)

  def selfTime(s: Span): Double =
    Stats.uncovered(s.start, s.end, children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsUnder(s: Span): Seq[JobStats] = subtree(s).flatMap(x => jobsOf.getOrElse(x.id, Nil))

  /** Root wall time minus the union of the intervals of its jobs. */
  def driverGap(root: Span): Double =
    Stats.uncovered(root.start, root.end,
      jobsUnder(root).filterNot(_.endMs.isNaN).map(j => (j.submitMs, j.endMs)))

  /** Every child lies inside its parent and no two siblings overlap.
    * Then the self times of an operation's spans add up to its wall
    * time, the root's own self time being the untraced glue between its
    * children. */
  def nested(s: Span): Boolean = {
    val kids = children.getOrElse(s.id, Nil).sortBy(_.start)
    kids.forall(c => s.start <= c.start && c.end <= s.end) &&
      kids.zip(kids.drop(1)).forall { case (a, b) => a.end <= b.start } &&
      kids.forall(nested)
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name)
}
