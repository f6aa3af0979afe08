package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** Observes the engine from outside, for the traced run only: Spark's
  * listener bus (jobs, stages, task metrics), the
  * QueryExecutionListener (each action's planning phases, its execution
  * time and its executed plan), the StreamingQueryListener
  * (micro-batches) and the storage status after each span. Records are
  * kept in memory and dumped once, at the end of the run; `run.py`
  * builds the span tree and metrics from them.
  *
  * Attribution: the harness tags its own thread with a local property
  * (`query:<name>|construct`, `query:<name>|action`, `publish:<fn>`)
  * that every job inherits; query-execution and streaming records are
  * collected by draining the bus after each tagged span ends. */
final class Tracer private (spark: SparkSession) extends SparkListener
    with AdaptiveSparkPlanHelper {
  import Tracer.TagKey

  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the clock the
    * listener events use. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val jobs = new ConcurrentLinkedQueue[JObject]
  private val stages = new ConcurrentLinkedQueue[JObject]
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val pendingQes = new ConcurrentLinkedQueue[JObject]
  private val pendingBatches = new ConcurrentLinkedQueue[JObject]
  private var open: List[JField] = Nil

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
    jobStart.put(e.jobId, (e.time, tag))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, tag) = jobStart.getOrDefault(e.jobId, (e.time, null))
    jobs.add(JObject("job" -> JInt(e.jobId), "tag" -> (if (tag == null) JNull else JString(tag)),
      "start_ms" -> JLong(t0), "end_ms" -> JLong(e.time),
      "ok" -> JBool(e.jobResult == JobSucceeded)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val job = Option(stageJob.get(si.stageId)).map(j => JInt(j.intValue)).getOrElse(JNull)
    val base = List[JField]("stage" -> JInt(si.stageId), "attempt" -> JInt(si.attemptNumber()),
      "job" -> job, "tasks" -> JInt(si.numTasks),
      "submit_ms" -> JLong(si.submissionTime.getOrElse(0L)),
      "end_ms" -> JLong(si.completionTime.getOrElse(0L)))
    val task = if (m == null) Nil else List[JField](
      "run_ms" -> JLong(m.executorRunTime),
      "cpu_ns" -> JLong(m.executorCpuTime),
      "gc_ms" -> JLong(m.jvmGCTime),
      "input_bytes" -> JLong(m.inputMetrics.bytesRead),
      "shuffle_read_bytes" -> JLong(m.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_bytes" -> JLong(m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> JLong(m.diskBytesSpilled),
      "output_bytes" -> JLong(m.outputMetrics.bytesWritten),
      "output_rows" -> JLong(m.outputMetrics.recordsWritten))
    stages.add(JObject(base ++ task))
  }

  /** One action's QueryExecution. `exec_ms` is Spark's own timing of the
    * action's SQL execution (0 when it failed); the phase times come from
    * its QueryPlanningTracker. */
  private def describe(func: String, qe: QueryExecution, execNs: Long, failed: Boolean): JObject = {
    val phases = qe.tracker.phases
    def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val starts = phases.values.map(_.startTimeMs)
    val ends = phases.values.map(_.endTimeMs)
    val plan: SparkPlan = qe.executedPlan
    def count(pf: PartialFunction[SparkPlan, Unit]) = collectWithSubqueries(plan)(pf).size
    val scanRows = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    JObject("func" -> JString(func), "failed" -> JBool(failed),
      "exec_ms" -> JDouble(execNs / 1e6),
      "analysis_ms" -> JDouble(phase("analysis")),
      "optimization_ms" -> JDouble(phase("optimization")),
      "planning_ms" -> JDouble(phase("planning")),
      "plan_start_ms" -> JLong(if (starts.isEmpty) 0L else starts.min),
      "plan_end_ms" -> JLong(if (ends.isEmpty) 0L else ends.max),
      "exchanges" -> JInt(count { case _: ShuffleExchangeLike => () }),
      "broadcasts" -> JInt(count { case _: BroadcastExchangeLike => () }),
      "cache_scans" -> JInt(count { case _: InMemoryTableScanExec => () }),
      "scan_rows" -> JLong(scanRows))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      pendingQes.add(describe(f, qe, ns, failed = false))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      pendingQes.add(describe(f, qe, 0L, failed = true))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      pendingBatches.add(JObject("rows" -> JLong(e.progress.numInputRows),
        "batch_ms" -> JLong(e.progress.batchDuration)))
  }

  /** Block until every posted listener event has been delivered.
    * `LiveListenerBus.waitUntilEmpty` is `private[spark]` in source but
    * public in bytecode. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Open the span `tag` on the harness thread. */
  def begin(tag: String): Unit = {
    open = List("tag" -> JString(tag), "start_ms" -> JDouble(nowMs))
    sc.setLocalProperty(TagKey, tag + "|construct")
  }

  /** Within the open query span: construction ends, the action starts. */
  def action(tag: String): Unit = {
    open :+= "action_ms" -> JDouble(nowMs)
    sc.setLocalProperty(TagKey, tag + "|action")
  }

  /** Close the open span and return it, with what the bus delivered for it. */
  def end(): JObject = {
    val endMs = nowMs
    sc.setLocalProperty(TagKey, null)
    drain()
    def take(q: ConcurrentLinkedQueue[JObject]) =
      JArray(Iterator.continually(q.poll()).takeWhile(_ != null).toList)
    val infos = sc.getRDDStorageInfo.toSeq: @annotation.nowarn("cat=deprecation")
    JObject(open ++ List[JField](
      "end_ms" -> JDouble(endMs),
      "qes" -> take(pendingQes),
      "batches" -> take(pendingBatches),
      "cache_mem_bytes" -> JLong(infos.map(_.memSize).sum),
      "cache_disk_bytes" -> JLong(infos.map(_.diskSize).sum),
      "cache_rdds" -> JObject(infos.map(i => i.id.toString -> JInt(i.numCachedPartitions)).toList)))
  }

  def dump(): JObject = {
    drain()
    JObject("jobs" -> JArray(jobs.asScala.toList), "stages" -> JArray(stages.asScala.toList),
      "cores" -> JInt(sc.defaultParallelism))
  }
}

object Tracer {
  val TagKey = "graftbench.span"

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.qeListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
