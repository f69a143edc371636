package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * the benchmark's spans line up with Spark listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span around a call the benchmark makes into a layer. */
final case class Span(id: Long, name: String, parent: Long, op: String,
    startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "parent" -> parent, "op" -> op, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** In-memory span store; written out once when the run ends. Disabled
  * in untraced runs, where `span` only runs its body. */
final class Spans(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def span[T](name: String, parent: Long, op: String)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowMs
      try body(id)
      finally spans.add(Span(id, name, parent, op, t0, Clock.nowMs))
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-op counters from Spark's public listener events. Spark jobs are
  * tied to the benchmark op that caused them through the job group the
  * benchmark sets before each op (`spark.jobGroup.id`); streaming jobs
  * carry their query's run id as job group and are tied to the ingest
  * tick that started the query. Events arrive on the listener bus
  * thread; read the results only after `SparkContext.stop()` has
  * drained the bus. */
final class LayerListener extends SparkListener {
  @volatile var currentTick: String = "-"
  private val runIdOp = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val jobOp = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execOp = mutable.Map[Long, String]()
  private val scanMetric = mutable.Map[Long, String]()
  private val driverUpdates = mutable.ArrayBuffer[(Long, Seq[(Long, Long)])]()
  val counters: mutable.Map[String, mutable.Map[String, Long]] = mutable.Map()
  val jobSpans = mutable.ArrayBuffer[Map[String, Any]]()
  val stageSpans = mutable.ArrayBuffer[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  var handlerNs = 0L

  private def add(op: String, key: String, v: Long): Unit = {
    val m = counters.getOrElseUpdate(op, mutable.Map())
    m(key) = m.getOrElse(key, 0L) + v
  }
  private def max(op: String, key: String, v: Long): Unit = {
    val m = counters.getOrElseUpdate(op, mutable.Map())
    m(key) = math.max(m.getOrElse(key, 0L), v)
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** Runs a handler, adding its CPU time to `handlerNs`. */
  private def timed(body: => Unit): Unit = {
    val t0 = threads.getCurrentThreadCpuTime
    body
    handlerNs += threads.getCurrentThreadCpuTime - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    val op = Option(runIdOp.get(group)).getOrElse(group)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execOp.getOrElseUpdate(x.toLong, op))
    add(op, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val op = jobOp.getOrElse(e.jobId, "-")
    jobSpans += Map("job" -> e.jobId, "op" -> op,
      "start_ms" -> jobStart.getOrElse(e.jobId, e.time), "end_ms" -> e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    val job = stageJob.getOrElse(info.stageId, -1)
    val op = jobOp.getOrElse(job, "-")
    add(op, "stages", 1)
    for (s <- info.submissionTime; c <- info.completionTime)
      stageSpans += Map("stage" -> info.stageId, "attempt" -> info.attemptNumber(),
        "job" -> job, "op" -> op, "start_ms" -> s, "end_ms" -> c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val op = stageJob.get(e.stageId).flatMap(jobOp.get).getOrElse("-")
    add(op, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(op, "run_ms", m.executorRunTime)
      add(op, "cpu_ns", m.executorCpuTime)
      add(op, "overhead_ms", m.executorDeserializeTime + m.resultSerializationTime)
      add(op, "gc_ms", m.jvmGCTime)
      add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(op, "shuffle_records", m.shuffleWriteMetrics.recordsWritten)
      add(op, "shuffle_write_ns", m.shuffleWriteMetrics.writeTime)
      add(op, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add(op, "spill_memory_bytes", m.memoryBytesSpilled)
      add(op, "spill_disk_bytes", m.diskBytesSpilled)
      add(op, "input_bytes", m.inputMetrics.bytesRead)
      max(op, "peak_exec_mem_bytes", m.peakExecutionMemory)
    }
    e.taskInfo.accumulables.foreach { a =>
      for (metric <- scanMetric.get(a.id); v <- a.update)
        v match {
          case n: Long => add(op, s"scan.$metric", n)
          case _ =>
        }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = timed {
    event match {
      case e: SparkListenerSQLExecutionStart => register(e.sparkPlanInfo)
      case e: SparkListenerSQLAdaptiveExecutionUpdate => register(e.sparkPlanInfo)
      case e: SparkListenerDriverAccumUpdates => driverUpdates += ((e.executionId, e.accumUpdates))
      case _ =>
    }
  }

  /** Remember which file-scan metric each SQL accumulator belongs to:
    * the node kind the per-layer table reports plan metrics for. */
  private def register(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan") && !p.nodeName.contains("ExistingRDD"))
      p.metrics.foreach(m => scanMetric(m.accumulatorId) = m.name)
    p.children.foreach(register)
  }

  /** Driver-side SQL metric updates (files read, bytes of files) carry
    * an execution id; attribute them once every job start is known. */
  def finish(): Unit =
    driverUpdates.foreach { case (exec, updates) =>
      val op = execOp.getOrElse(exec, "-")
      updates.foreach { case (id, v) =>
        scanMetric.get(id).foreach(metric => add(op, s"scan.$metric", v))
      }
    }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runIdOp.put(e.runId.toString, currentTick)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map("tick" -> Option(runIdOp.get(p.runId.toString)).getOrElse("-"),
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }
}
