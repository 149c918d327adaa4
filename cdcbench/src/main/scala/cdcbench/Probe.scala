package cdcbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Spark scheduler counters for one timed op: what ran between two
  * wall-clock instants. */
final case class JobWindow(jobs: Int, stages: Int, tasks: Int,
    taskMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long, busyMs: Long) {
  /** Part of the window with no job running. */
  def gapMs(windowMs: Long): Long = math.max(0L, windowMs - busyMs)
}

/** Records every job's start/end time and every finished task's metrics.
  * Registered only on traced runs: the untraced runs that give the
  * end-to-end numbers carry no listener. */
final class JobProbe extends SparkListener {
  import JobProbe.{Job, Task}

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private var attached = false

  /** Listens only while on, so traced and bare ops can alternate. */
  def on(sc: SparkContext): Unit = if (!attached) {
    sc.addSparkListener(this); attached = true
  }
  def off(sc: SparkContext): Unit = if (attached) {
    sc.removeSparkListener(this); attached = false
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageInfos.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
    }
  }

  /** Waits (bounded) until every started job has ended, so a window read
    * right after an action sees that action's events. */
  def settle(timeoutMs: Long = 3000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.exists(_.end < 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Counters for jobs started in [from, to] (epoch ms) and tasks that
    * finished in it; busy time is the union of job intervals clipped to
    * the window. */
  def window(from: Long, to: Long): JobWindow = synchronized {
    val js = jobs.filter(j => j.start >= from && j.start <= to).toSeq
    val ts = tasks.filter(t => t.end >= from && t.end <= to).toSeq
    val spans = jobs.toSeq
      .map(j => (math.max(j.start, from),
        math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) busy += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    JobWindow(js.size, js.map(_.stages).sum, ts.size, ts.map(_.runMs).sum,
      ts.map(_.shRead).sum, ts.map(_.shWrite).sum, ts.map(_.spill).sum,
      ts.map(_.gcMs).sum, busy)
  }
}

/** One traced op's scheduler window: its wall time and how many of its
  * jobs started before its write did (0 where the op has no build). */
final case class OpJobs(w: JobWindow, wallMs: Long, eagerJobs: Int)

object JobProbe {
  private final case class Job(id: Int, start: Long, var end: Long,
      stages: Int)
  private final case class Task(end: Long, runMs: Long, shRead: Long,
      shWrite: Long, spill: Long, gcMs: Long)

  /** Reports the `spark.*` layer over traced ops: medians per op for the
    * counts and the driver gap, means per op for the totals. */
  def report(sink: MetricSink, ops: Seq[OpJobs]): Unit = {
    def per(f: OpJobs => Double) =
      if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    sink.p50("spark.jobs_p50", ops.map(_.w.jobs.toDouble), "count")
    sink.p50("spark.stages_p50", ops.map(_.w.stages.toDouble), "count")
    sink.p50("spark.tasks_p50", ops.map(_.w.tasks.toDouble), "count")
    sink.p50("spark.eager_jobs_p50", ops.map(_.eagerJobs.toDouble), "count")
    sink.p50("spark.driver_gap_ms_p50",
      ops.map(o => o.w.gapMs(o.wallMs).toDouble), "ms")
    sink("spark.task_ms_sum") = (per(_.w.taskMs.toDouble), "ms")
    sink("spark.shuffle_read_bytes") = (per(_.w.shuffleReadBytes.toDouble), "B")
    sink("spark.shuffle_write_bytes") =
      (per(_.w.shuffleWriteBytes.toDouble), "B")
    sink("spark.spill_bytes") = (per(_.w.spillBytes.toDouble), "B")
    sink("spark.gc_ms") = (per(_.w.gcMs.toDouble), "ms")
  }
}

/** Structured Streaming progress as plain numbers. Read from
  * `StreamingQuery.recentProgress`, so no listener is needed. */
final case class TriggerStat(batchId: Long, startMs: Long, rows: Long,
    durations: Map[String, Long]) {
  def ms(phase: String): Long = durations.getOrElse(phase, 0L)
}

object TriggerStat {
  def of(p: StreamingQueryProgress): TriggerStat = TriggerStat(p.batchId,
    java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  /** Triggers that read data, in batch order. The query keeps the last
    * `spark.sql.streaming.numRecentProgressUpdates` of them. */
  def withData(q: StreamingQuery): Seq[TriggerStat] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(of)
      .sortBy(_.batchId)

  /** Progress phases reported as `stream.<name>_ms_p50`. */
  val Phases: Seq[(String, String)] = Seq(
    "trigger" -> "triggerExecution", "latest_offset" -> "latestOffset",
    "get_batch" -> "getBatch", "query_planning" -> "queryPlanning",
    "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets",
    "add_batch" -> "addBatch")
}
