package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark harness; `parent` is the id of
  * the enclosing span (0 at top level). Spark jobs become child spans
  * of the span that was open when they were submitted.
  */
final case class Span(id: Long, name: String, parent: Long, startMs: Long, var endMs: Long)

/** Span recorder plus Spark's public listeners, attached from outside
  * the program under test:
  *   - a SparkListener for jobs, stages and task metrics, which it
  *     attributes to spans through a local property set on each span;
  *   - a QueryExecutionListener for planning phase times, executed XML
  *     scans and action counts;
  *   - a StreamingQueryListener for micro-batch phase durations.
  * Listener totals accumulate only while [[collecting]] is on. The
  * listener buses are asynchronous, so [[quiesce]] waits for them to go
  * idle before a phase boundary.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val stack = mutable.Stack[Span]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile var collecting = false
  @volatile private var lastEventMs = System.currentTimeMillis()
  private val SpanKey = "perfbench.span"

  /** Named totals of the current collection window. */
  private val totals: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = totals.synchronized { totals(k) += v }
  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(nextId.getAndIncrement(), name, parent, System.currentTimeMillis(), 0L)
    spans.synchronized(spans += s)
    stack.push(s)
    val prevProp = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  private val jobSpan = mutable.Map.empty[Int, Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val s = Span(nextId.getAndIncrement(), s"job ${e.jobId}", parent, e.time, 0L)
      jobSpan.synchronized(jobSpan(e.jobId) = s)
      spans.synchronized(spans += s)
      if (collecting) {
        add("exec.jobs", 1)
        add("exec.stages", e.stageInfos.size)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch()
      jobSpan.synchronized(jobSpan.remove(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = touch()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      val m = e.taskMetrics
      if (collecting && m != null) {
        val info = e.taskInfo
        add("exec.tasks", 1)
        add("exec.task_run_ms", m.executorRunTime)
        add("exec.task_cpu_ns", m.executorCpuTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
        add("exec.shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("exec.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("exec.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("exec.input_b", m.inputMetrics.bytesRead)
        add("exec.output_b", m.outputMetrics.bytesWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = touch()
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      touch()
      if (collecting) {
        add("plan.actions", 1)
        val phases = qe.tracker.phases
        def phase(p: String): Double =
          phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1000.0).getOrElse(0.0)
        add("plan.analysis_s", phase(QueryPlanningTracker.ANALYSIS))
        add("plan.optimization_s", phase(QueryPlanningTracker.OPTIMIZATION))
        add("plan.planning_s", phase(QueryPlanningTracker.PLANNING))
        add("plan.xml_scans", flatten(qe.executedPlan).count {
          case f: FileSourceScanExec =>
            f.relation.fileFormat.getClass.getSimpleName.toLowerCase.contains("xml")
          case _ => false
        })
      }
    }
  }

  /** Executed plan with AQE wrappers and materialized stages unwrapped. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  private val streamStart = mutable.Map.empty[java.util.UUID, Long]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      touch()
      streamStart.synchronized(streamStart(e.runId) = System.currentTimeMillis())
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      if (collecting) {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        add("stream.batches", 1)
        add("stream.get_batch_s", d.getOrElse("getBatch", 0L) / 1000.0 +
          d.getOrElse("latestOffset", 0L) / 1000.0)
        add("stream.query_planning_s", d.getOrElse("queryPlanning", 0L) / 1000.0)
        add("stream.add_batch_s", d.getOrElse("addBatch", 0L) / 1000.0)
        add("stream.wal_commit_s", d.getOrElse("walCommit", 0L) / 1000.0 +
          d.getOrElse("commitOffsets", 0L) / 1000.0)
        add("stream.trigger_s", d.getOrElse("triggerExecution", 0L) / 1000.0)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      touch()
      val started = streamStart.synchronized(streamStart.remove(e.runId))
      if (collecting) started.foreach { t =>
        add("stream.lifetime_s", (System.currentTimeMillis() - t) / 1000.0)
      }
    }
  }

  private var attached = false

  /** Register (or, with `on = false`, remove) all three listeners. */
  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(planListener)
      spark.streams.addListener(streamListener)
    } else {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
    attached = on
  }

  /** Wait until no listener event arrived for `idleMs` (at most 10 s). */
  def quiesce(idleMs: Long = 250): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    Thread.sleep(idleMs)
    while (System.currentTimeMillis() - lastEventMs < idleMs &&
      System.currentTimeMillis() < deadline) Thread.sleep(idleMs / 2)
  }

  /** Codegen compilations and compile milliseconds since JVM start. The
    * compile-time histogram keeps every sample until it holds 1028; past
    * that the sum is estimated from the reservoir mean.
    */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val ms = if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n
    (n, ms)
  }

  /** Per-layer values derived from the raw totals, divided by `ops`. */
  def layerTotals(ops: Int): Map[String, Double] = {
    val t = totals.synchronized(totals.toMap).withDefaultValue(0.0)
    val per = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    val derived = Map(
      "exec.jobs" -> t("exec.jobs"),
      "exec.stages" -> t("exec.stages"),
      "exec.tasks" -> t("exec.tasks"),
      "exec.task_run_s" -> t("exec.task_run_ms") / 1000.0,
      "exec.task_cpu_s" -> t("exec.task_cpu_ns") / 1e9,
      "exec.gc_s" -> t("exec.gc_ms") / 1000.0,
      "exec.scheduler_delay_s" -> t("exec.scheduler_delay_ms") / 1000.0,
      "exec.shuffle_read_mb" -> t("exec.shuffle_read_b") / mb,
      "exec.shuffle_write_mb" -> t("exec.shuffle_write_b") / mb,
      "exec.spill_mb" -> t("exec.spill_b") / mb,
      "exec.input_mb" -> t("exec.input_b") / mb,
      "exec.output_mb" -> t("exec.output_b") / mb,
      "plan.actions" -> t("plan.actions"),
      "plan.xml_scans" -> t("plan.xml_scans"),
      "plan.analysis_s" -> t("plan.analysis_s"),
      "plan.optimization_s" -> t("plan.optimization_s"),
      "plan.planning_s" -> t("plan.planning_s"),
      "stream.batches" -> t("stream.batches"),
      "stream.get_batch_s" -> t("stream.get_batch_s"),
      "stream.query_planning_s" -> t("stream.query_planning_s"),
      "stream.add_batch_s" -> t("stream.add_batch_s"),
      "stream.wal_commit_s" -> t("stream.wal_commit_s"),
      "stream.trigger_s" -> t("stream.trigger_s"),
      "stream.start_s" ->
        math.max(0.0, t("stream.lifetime_s") - t("stream.trigger_s")))
    derived.map { case (k, v) => k -> v / per }
  }

  /** Wall time not covered by task run time spread over all cores. */
  def overheadS(wallS: Double, ops: Int): Double = {
    val run = totals.synchronized(totals("exec.task_run_ms")) / 1000.0
    (wallS - run / cores) / math.max(ops, 1)
  }

  def resetTotals(): Unit = totals.synchronized(totals.clear())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
}
