package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around a call into a layer. `startMs`/`endMs` are
  * wall-clock milliseconds, the clock Spark stamps its listener events
  * with, so events can be placed in spans; `nanos` is the precise
  * duration. Spans of one op share `trace` (`workload/pass/op`). */
final case class Span(id: Int, parent: Int, name: String, trace: String,
                      startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Span recorder for the single client thread: spans nest by call, are
  * kept in memory, and are written out once the run ends. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def apply[T](name: String, trace: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - ns0
      open.pop()
      done += Span(id, parent, name, trace, ms0, System.currentTimeMillis(), ns)
    }
  }

  /** The span closed most recently. */
  def last: Span = done.last

  def all: Seq[Span] = done.sortBy(_.id).toSeq
}

/** Places timestamped events in spans. Only one op runs at a time, so
  * the span an event's time falls in is the op that caused it; of nested
  * spans the innermost wins, and when one span ends in the millisecond
  * the next begins, the later span wins (a job cannot start and finish
  * within the millisecond its op ends). */
object Attribution {
  def spanOf(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .maxByOption(s => (s.startMs, s.id))

  def assign[T](spans: Seq[Span], items: Iterable[T])(time: T => Long): Map[Int, Seq[T]] =
    items.toSeq.flatMap(i => spanOf(spans, time(i)).map(_.id -> i))
      .groupMap(_._1)(_._2)

  /** `root` and every span nested in it. */
  def subtree(spans: Seq[Span], root: Span): Set[Int] = {
    val kids = spans.groupMap(_.parent)(_.id)
    def walk(id: Int): Set[Int] = kids.getOrElse(id, Nil).toSet.flatMap(walk) + id
    walk(root.id)
  }
}

final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int])
final case class JobEnd(id: Int, endMs: Long)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         cpuNs: Long, inputBytes: Long, shuffleWriteBytes: Long,
                         shuffleReadBytes: Long, spillBytes: Long,
                         outputBytes: Long, ok: Boolean) {
  def seconds: Double = (finishMs - launchMs) / 1e3
}

/** Spark scheduler and task events, from the public listener bus. */
final class JobRecorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val jobEnds = new ConcurrentLinkedQueue[JobEnd]()
  /** Ids of the stages that ran (skipped stages never complete). */
  val stages = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRec(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add(JobEnd(e.jobId, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    // metrics are null for tasks that never ran (e.g. killed before start)
    def orZero(f: => Long): Long = if (m == null) 0L else f
    tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      orZero(m.executorCpuTime), orZero(m.inputMetrics.bytesRead),
      orZero(m.shuffleWriteMetrics.bytesWritten),
      orZero(m.shuffleReadMetrics.totalBytesRead),
      orZero(m.diskBytesSpilled), orZero(m.outputMetrics.bytesWritten),
      e.reason == Success))
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has ended and no event has arrived for a quiet interval. */
  def drain(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1
    var quiet = false
    while (!quiet && System.currentTimeMillis() < deadline) {
      val n = jobs.size + jobEnds.size + stages.size + tasks.size
      quiet = n == last && jobs.size == jobEnds.size
      last = n
      if (!quiet) Thread.sleep(100)
    }
  }
}

final case class Progress(timeMs: Long, inputRows: Long, commitMs: Long, stateRows: Long)

/** Micro-batch progress of the `f_stream_*` streams. */
final class StreamRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L),
      p.stateOperators.map(_.numRowsTotal).sum))
  }
}
