package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `id` is unique per name; `parent` is "name:id" of
  * the enclosing span, or "" at the root. Times are epoch milliseconds
  * with sub-millisecond precision. */
final case class Span(name: String, id: String, parent: String,
                      startMs: Double, endMs: Double)

/** Per-job counters summed over the job's tasks. */
final class JobStats(val jobId: Int, val span: String, val startMs: Double) {
  @volatile var endMs: Double = startMs
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val recordsRead = new AtomicLong
  val bytesRead = new AtomicLong
  val recordsWritten = new AtomicLong
  val bytesWritten = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
}

/** The benchmark's tracer: spans kept in memory, plus the Spark listener
  * counters keyed to them. Spans are opened from the benchmark's own code
  * around calls into graft's modules; Spark jobs find their span through
  * the [[Tracer.SpanProperty]] local property set while the span is open.
  * Listeners are registered only when tracing is on. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]
  val jobs = new ConcurrentHashMap[Int, JobStats]
  private val stageToJob = new ConcurrentHashMap[Int, JobStats]
  /** (start, end) epoch ms of every analysis, optimization and planning
    * phase of every query execution; a span owns the phases that start
    * inside it. */
  val planningPhases = new ConcurrentLinkedQueue[(Double, Double)]
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]

  /** Run `body` inside a span; when `traced` is false only the body runs. */
  def span[T](name: String, id: String, parent: String, traced: Boolean)(body: => T): T =
    if (!on || !traced) body
    else {
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, s"$name:$id")
      val s = nowMs
      try body
      finally {
        spans.add(Span(name, id, parent, s, nowMs))
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  def record(s: Span): Unit = if (on) spans.add(s)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanProperty))).foreach { sp =>
        val js = new JobStats(e.jobId, sp, e.time.toDouble)
        jobs.put(e.jobId, js)
        e.stageIds.foreach(stageToJob.put(_, js))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (js <- Option(stageToJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        js.tasks.incrementAndGet()
        js.cpuNs.addAndGet(m.executorCpuTime)
        js.runMs.addAndGet(m.executorRunTime)
        js.gcMs.addAndGet(m.jvmGCTime)
        js.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        js.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        js.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
        js.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        js.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        js.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        js.spill.addAndGet(m.diskBytesSpilled)
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p =>
        planningPhases.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far. */
  def flush(): Unit = if (on) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def close(): Unit = if (on) {
    flush()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def jobsOf(span: String): Seq[JobStats] =
    jobs.values.asScala.filter(_.span == span).toSeq.sortBy(_.jobId)

  /** Every span plus one `job` span per Spark job, as JSON records. */
  def spanRecords: Seq[Json.Obj] =
    spans.asScala.toSeq.map(s => Json.obj("name" -> s.name, "id" -> s.id,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) ++
      jobs.values.asScala.toSeq.sortBy(_.jobId).map { j =>
        Json.obj("name" -> "job", "id" -> j.jobId.toString, "parent" -> j.span,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)
      }

  /** Counters summed over the jobs of the given spans. */
  def counters(spanKeys: Seq[String]): Json.Obj = {
    val js = spanKeys.flatMap(jobsOf)
    def sum(f: JobStats => Long) = js.map(f).sum
    val keys = spanKeys.toSet
    val within = spans.asScala.filter(s => keys(s"${s.name}:${s.id}")).toSeq
    val planning = planningPhases.asScala.collect {
      case (a, b) if within.exists(s => a >= math.floor(s.startMs) && a < s.endMs) => b - a
    }.sum
    Json.obj(
      "jobs" -> js.size, "tasks" -> sum(_.tasks.get),
      "task_cpu_ms" -> sum(_.cpuNs.get) / 1e6, "task_run_ms" -> sum(_.runMs.get),
      "task_gc_ms" -> sum(_.gcMs.get),
      "records_read" -> sum(_.recordsRead.get), "bytes_read" -> sum(_.bytesRead.get),
      "records_written" -> sum(_.recordsWritten.get),
      "bytes_written" -> sum(_.bytesWritten.get),
      "shuffle_write_bytes" -> sum(_.shuffleWrite.get),
      "shuffle_read_bytes" -> sum(_.shuffleRead.get),
      "spill_bytes" -> sum(_.spill.get),
      "planning_ms" -> planning)
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}
