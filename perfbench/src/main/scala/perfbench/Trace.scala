package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution. Spark's
  * listener events carry `System.currentTimeMillis` stamps; anchoring
  * `nanoTime` to the epoch once puts the benchmark's own spans on the same
  * time line. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochMs0 = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval. Spans of one op share `op`; `parent` links the tree
  * run → pass → op → {construct, action, sink, job, phase, stream}. Job,
  * phase and stream spans come from Spark's listeners; their `op` is the
  * job group the benchmark set, or -1 when Spark ran them under its own
  * group (streaming micro-batches), in which case the reducer places them
  * by time. */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, start: Double, end: Double, attrs: Map[String, Any])

final class SpanLog {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.synchronized { buf += s }
  def all: Seq[Span] = buf.synchronized { buf.toList }

  /** Time `body` as a span and return its result with the span. */
  def timed[T](parent: Long, op: Long, kind: String, name: String,
      attrs: Map[String, Any] = Map.empty)(body: => T): (T, Span) = {
    val id = nextId()
    val t0 = Clock.nowMs
    val r = body
    val s = Span(id, parent, op, kind, name, t0, Clock.nowMs, attrs)
    add(s)
    (r, s)
  }
}

object Trace {
  val GroupPrefix = "perfbench-op-"
  def opOfGroup(group: String): Long =
    if (group != null && group.startsWith(GroupPrefix))
      group.stripPrefix(GroupPrefix).toLong
    else -1L
}

/** Spark's own listeners, attached from outside the program for traced
  * passes: per-job windows and task metrics, Catalyst phase windows of every
  * action, and micro-batch progress of streaming queries. */
final class Listeners(log: SpanLog) {
  private final class JobRec(val id: Int, val op: Long, val start: Long) {
    var end = -1L
    var stages = 0; var tasks = 0; var failedTasks = 0
    var cpuNs = 0L; var deserMs = 0L; var gcMs = 0L
    var input = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]
  @volatile private var lastEventMs = Clock.nowMs

  private def touch(): Unit = lastEventMs = Clock.nowMs

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val group = Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = new JobRec(e.jobId, Trace.opOfGroup(group), e.time)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
        touch()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.deserMs += m.executorDeserializeTime
          j.gcMs += m.jvmGCTime
          j.input += m.inputMetrics.bytesRead
          j.shRead += m.shuffleReadMetrics.totalBytesRead
          j.shWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
      touch()
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      qe.tracker.phases.foreach { case (phase, p) =>
        log.add(Span(log.nextId(), -1, -1, "phase", phase,
          p.startTimeMs.toDouble, p.endTimeMs.toDouble,
          Map("action" -> funcName, "ok" -> ok)))
      }
      touch()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      log.add(Span(log.nextId(), -1, -1, "stream", p.name, start,
        start + ms("triggerExecution"),
        Map("batch" -> p.batchId, "trigger_ms" -> ms("triggerExecution"),
          "plan_ms" -> ms("queryPlanning"),
          "wal_ms" -> (ms("walCommit") + ms("commitOffsets")),
          "add_batch_ms" -> ms("addBatch"), "rows" -> p.numInputRows)))
      touch()
    }
  }

  /** Wait until every job seen has ended and the buses have been quiet for
    * 150 ms, for at most 5 s. Events arrive asynchronously, so spans are
    * complete only after this; a job still open keeps end = -1. */
  def drain(): Unit = {
    val deadline = Clock.nowMs + 5000
    def open = jobs.synchronized { jobs.values.exists(_.end < 0) }
    while ((open || Clock.nowMs - lastEventMs < 150) && Clock.nowMs < deadline)
      Thread.sleep(20)
  }

  /** Move the finished jobs into the span log as `job` spans. */
  def flushJobs(): Unit = jobs.synchronized {
    jobs.values.foreach { j =>
      log.add(Span(log.nextId(), -1, j.op, "job", s"job-${j.id}",
        j.start.toDouble, if (j.end < 0) -1.0 else j.end.toDouble,
        Map("stages" -> j.stages, "tasks" -> j.tasks,
          "failed_tasks" -> j.failedTasks, "task_cpu_ms" -> j.cpuNs / 1e6,
          "task_deser_ms" -> j.deserMs, "gc_ms" -> j.gcMs,
          "input_bytes" -> j.input, "shuffle_read_bytes" -> j.shRead,
          "shuffle_write_bytes" -> j.shWrite, "spill_bytes" -> j.spill)))
    }
    jobs.clear()
    stageToJob.clear()
  }
}
