package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed interval seen on one of Spark's listener buses (epoch ms). */
final case class Span(kind: String, name: String, start: Long, end: Long)

/** Collects what the listeners see while a traced phase is open, and the
 *  JVM-wide counters (codegen, GC) as deltas over that phase. */
object Trace {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val planning = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private var codegen0 = (0L, 0L)
  private var gc0 = 0L
  private var codegen1 = (0L, 0L)
  private var gc1 = 0L

  private def codegenNow = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  private def gcNow = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  def begin(): Unit = { codegen0 = codegenNow; gc0 = gcNow; on = true }
  def end(): Unit = { on = false; codegen1 = codegenNow; gc1 = gcNow }

  def addPlanning(phase: String, ms: Long): Unit =
    planning.merge(phase, ms, (a, b) => a + b)

  def snapshot(tasks: TaskListener): JMap[String, Object] = {
    val m = new JMap[String, Object]()
    m.put("codegen_compiles", Long.box(codegen1._1 - codegen0._1))
    m.put("codegen_ms", Double.box((codegen1._2 - codegen0._2) / 1e6))
    m.put("gc_ms", Long.box(gc1 - gc0))
    planning.forEach((k, v) => m.put(s"planning_$k", v))
    tasks.counters.foreach { case (k, v) => m.put(k, Double.box(v)) }
    m.put("stage_skew", Double.box(tasks.stageSkew))
    m
  }

  def spanRecords(): JList[Object] = {
    val out = new JList[Object]()
    spans.asScala.foreach { s =>
      val m = new JMap[String, Object]()
      m.put("kind", s.kind)
      m.put("name", s.name)
      m.put("start_ms", Long.box(s.start))
      m.put("end_ms", Long.box(s.end))
      out.add(m)
    }
    out
  }
}

/** Analysis / optimisation / physical-planning time of every batch
 *  action (`Dataset` actions and writes), from the query's planning
 *  tracker.  Registered on every session through
 *  `spark.sql.queryExecutionListeners`, so the runner's per-job
 *  sub-sessions report too. */
class QueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.on) record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Trace.on) record(qe)
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) => Trace.addPlanning(phase, s.durationMs) }
}

/** Jobs, stages, tasks, SQL executions and cached blocks. */
class TaskListener extends SparkListener {
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val sqlStart = mutable.Map.empty[Long, Long]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val blockBytes = mutable.Map.empty[String, Long]
  private val cachedRdds = mutable.Set.empty[Int]
  private var cachedNow = 0L

  private def add(k: String, v: Double): Unit = synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  private def max(k: String, v: Double): Unit = synchronized { counters(k) = math.max(counters.getOrElse(k, 0.0), v) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    add("jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => Trace.spans.add(Span("job", s"job ${e.jobId}", s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (e.taskInfo.failed || e.taskInfo.killed) add("failed_tasks", 1)
    val tm = e.taskMetrics
    if (tm != null) {
      add("task_run_ms", tm.executorRunTime.toDouble)
      add("task_cpu_ms", tm.executorCpuTime / 1e6)
      add("shuffle_write_mb", tm.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle_read_mb", (tm.shuffleReadMetrics.remoteBytesRead +
        tm.shuffleReadMetrics.localBytesRead) / 1048576.0)
      add("spill_mb", tm.diskBytesSpilled / 1048576.0)
      add("input_mb", tm.inputMetrics.bytesRead / 1048576.0)
      add("output_mb", tm.outputMetrics.bytesWritten / 1048576.0)
      max("peak_exec_mem_mb", tm.peakExecutionMemory / 1048576.0)
    }
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedNow += size - blockBytes.getOrElse(info.blockId.name, 0L)
      blockBytes(info.blockId.name) = size
      if (size > 0) cachedRdds += rdd.rddId
      counters("cached_rdds") = cachedRdds.size.toDouble
      max("cached_peak_mb", cachedNow / 1048576.0)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart(s.executionId) = s.time
        add("sql_executions", 1)
      case s: SparkListenerSQLExecutionEnd =>
        sqlStart.remove(s.executionId).foreach(t =>
          Trace.spans.add(Span("sql", s"sql ${s.executionId}", t, s.time)))
      case _ =>
    }
  }

  /** Median over stages with two or more tasks of (slowest task / mean
   *  task), 1.0 when no stage has two tasks. */
  def stageSkew: Double = synchronized {
    val ratios = stageTasks.values.filter(_.size >= 2).map { d =>
      val mean = d.sum.toDouble / d.size
      if (mean > 0) d.max / mean else 1.0
    }.toIndexedSeq.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
  }
}

/** Progress of every streaming micro-batch.  Always registered (through
 *  `spark.sql.streaming.streamingQueryListeners`): the micro-batch
 *  latency is an end-to-end metric. */
class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val m = new JMap[String, Object]()
    m.put("phase", ProgressListener.phase)
    m.put("query", String.valueOf(p.runId))
    m.put("batch", Long.box(p.batchId))
    m.put("start_ms", Long.box(java.time.Instant.parse(p.timestamp).toEpochMilli))
    m.put("rows", Long.box(p.numInputRows))
    val d = new JMap[String, Object]()
    p.durationMs.forEach((k, v) => d.put(k, v))
    m.put("durations", d)
    val st = new JList[Object]()
    p.stateOperators.foreach { s =>
      val sm = new JMap[String, Object]()
      sm.put("rows", Long.box(s.numRowsTotal))
      sm.put("bytes", Long.box(s.memoryUsedBytes))
      sm.put("commit_ms", Long.box(s.commitTimeMs))
      st.add(sm)
    }
    m.put("state", st)
    ProgressListener.batches.add(m)
  }
}

object ProgressListener {
  @volatile var phase = "setup"
  val batches = new ConcurrentLinkedQueue[JMap[String, Object]]()
  def records(): JList[Object] = new JList[Object](batches)
}
