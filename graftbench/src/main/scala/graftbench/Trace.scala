package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are `System.nanoTime`; `op` identifies the
  * search or registry row the span belongs to; `parent` is the span that
  * caused it (0 for a root).
  */
final case class Span(id: Long, parent: Long, name: String, op: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = new java.util.concurrent.ConcurrentHashMap[Long, Span]()

  def add(parent: Long, name: String, op: String, start: Long, end: Long): Long = {
    val id = ids.incrementAndGet()
    buf.put(id, Span(id, parent, name, op, start, end))
    id
  }
  /** Opens a span whose end is set later by [[finish]]. */
  def begin(parent: Long, name: String, op: String, start: Long): Long =
    add(parent, name, op, start, start)
  def finish(id: Long, end: Long): Unit = buf.computeIfPresent(id, (_, s) => s.copy(end = end))
  def all: Seq[Span] = buf.values.asScala.toSeq

  /** Self time of every span: its duration minus the part its direct
    * children cover.
    */
  def selfTimes: Map[Long, Long] = Spans.selfTimes(all)

  def write(path: String): Unit = {
    val self = selfTimes
    val w = new PrintWriter(path)
    try all.sortBy(_.id).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":"${s.op}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)}}""")
    } finally w.close()
  }
}

object Spans {
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cov = Stats.covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
      s.id -> (s.dur - cov)
    }.toMap
  }
}

/** Wall-clock (epoch ms, as Spark stamps its events) to `nanoTime`. */
object Clock {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + offsetNs
}

final case class Job(id: Int, desc: String, start: Long, var end: Long, stages: Seq[Int])
final case class Stage(id: Int, job: Int, start: Long, end: Long)
final case class Task(stage: Int, start: Long, end: Long, deserMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long, schedDelayMs: Long)

/** Spark job/stage/task events, kept raw and aggregated after the run. */
final class JobListener extends SparkListener {

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile var lastEndedDesc: String = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, desc, Clock.fromEpochMs(e.time), -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) { j.end = Clock.fromEpochMs(e.time); lastEndedDesc = j.desc }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1),
      Clock.fromEpochMs(i.submissionTime.getOrElse(0L)),
      Clock.fromEpochMs(i.completionTime.getOrElse(0L))))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      tasks.add(Task(e.stageId, Clock.fromEpochMs(info.launchTime),
        Clock.fromEpochMs(info.finishTime), m.executorDeserializeTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, sched))
    }
  }
  def jobOfStage(stage: Int): Int = stageJob.getOrDefault(stage, -1)

  /** Block until every event posted before this call has been handled:
    * runs a one-task marker job and waits for its end event, which the
    * listener queue delivers after everything queued before it.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val tag = s"graftbench:drain:${System.nanoTime()}"
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(old)
    val deadline = System.nanoTime() + 10000000000L
    while (lastEndedDesc != tag && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

/** Planning phases of every finished query execution, in completion order. */
final case class Done(planMs: Long, phases: Map[String, (Long, Long)])

final class PlanListener extends QueryExecutionListener {
  val done = new ConcurrentLinkedQueue[Done]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) =>
      k -> (Clock.fromEpochMs(v.startTimeMs), Clock.fromEpochMs(v.endTimeMs)) }
    done.add(Done(qe.tracker.phases.values.map(_.durationMs).sum, ph))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One micro-batch; `at` is its trigger time. */
final case class Batch(at: Long, query: String, durations: Map[String, Long],
    stateRows: Long, stateMem: Long)

/** Micro-batch progress of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val at = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    batches.add(Batch(at, p.runId.toString, d,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
  }

  /** Stream events arrive on their own listener queue; wait until none has
    * arrived for `quietMs`.
    */
  def settle(quietMs: Long = 200): Unit = {
    var n = -1
    while (batches.size != n) { n = batches.size; Thread.sleep(quietMs) }
  }
}

/** The three listeners of a traced run. */
final class Tracer(val spark: SparkSession) {
  val spans = new Spans
  val jobs = new JobListener
  val plans = new PlanListener
  val streams = new StreamListener
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  def drain(): Unit = { jobs.drain(spark); streams.settle() }

  /** Job, stage and task spans for `jobsIn`, each job parented to the span
    * `parentOf` picks for it.
    */
  def sparkSpans(jobsIn: Seq[Job], opOf: Job => String, parentOf: Job => Long): Unit = {
    val byJob = jobsIn.map(j => j.id -> j).toMap
    val jobSpan = mutable.Map.empty[Int, (Long, String)]
    for (j <- jobsIn if j.end > 0)
      jobSpan(j.id) = (spans.add(parentOf(j), "job", opOf(j), j.start, j.end), opOf(j))
    val stageSpan = mutable.Map.empty[Int, (Long, String)]
    for (s <- stages if byJob.contains(s.job); (js, op) <- jobSpan.get(s.job))
      stageSpan(s.id) = (spans.add(js, "stage", op, s.start, s.end), op)
    for (t <- tasks; (ss, op) <- stageSpan.get(t.stage))
      spans.add(ss, "task", op, t.start, t.end)
  }

  def allJobs: Seq[Job] = jobs.jobs.values.asScala.toSeq
    .filterNot(_.desc.startsWith("graftbench:drain"))
  def stages: Seq[Stage] = jobs.stages.asScala.toSeq
  def tasks: Seq[Task] = jobs.tasks.asScala.toSeq
}
