package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job totals collected from Spark's listener events. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  var end: Long = -1L
  var ok: Boolean = true
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputRows = 0L
  var outputBytes = 0L

  def toJson: Map[String, Any] = Map(
    "id" -> id, "group" -> group, "start" -> start, "end" -> end, "ok" -> ok,
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill, "input_rows" -> inputRows,
    "output_bytes" -> outputBytes)
}

/** The traced run's instruments: a SparkListener for jobs, stages and tasks,
  * a QueryExecutionListener per session for planner phases, and the
  * Catalyst rule, codegen and JVM counters read at operation boundaries.
  */
final class Probe(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val seen = mutable.HashSet.empty[Int]   // identity of each execution in `executions`

  sc.addSparkListener(this)

  def watch(session: SparkSession): SparkSession = {
    session.listenerManager.register(this)
    session
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputRows += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def phases(qe: QueryExecution): Map[String, Any] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = synchronized {
    executions += Map("func" -> funcName, "ok" -> ok, "phases" -> phases(qe))
    seen += System.identityHashCode(qe)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  /** Deliver pending events, then hand over the executions seen since the
    * previous call (the planner work of the operation that just ended).
    *
    * `built` is the execution of the DataFrame a query function returned.
    * The listener sees only executions that run an action, usually the
    * harness's write of that DataFrame, which is a separate execution; the
    * returned DataFrame was analysed (and sometimes planned) while it was
    * built, so its phases are added here unless the listener already saw it.
    */
  def takeExecutions(built: Option[QueryExecution]): Seq[Map[String, Any]] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val extra = built.filterNot(qe => seen(System.identityHashCode(qe)))
        .map(qe => Map("func" -> "build", "ok" -> true, "phases" -> phases(qe)))
      val out = executions.toList ++ extra
      executions.clear()
      seen.clear()
      out
    }
  }

  def jobsJson: Seq[Map[String, Any]] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(jobs.values.map(_.toJson).toList)
  }
}

object Probe {

  /** Cumulative process counters, read at span boundaries. */
  def counters(): Map[String, Any] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.catalyst.rules.RuleExecutor
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    Map(
      "codegen_ns" -> CodeGenerator.compileTime,
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      // every analyzer and optimizer rule run in the process, in any execution
      "rules_ns" -> RuleExecutor.getCurrentMetrics().time,
      "gc_ms" -> gcMs,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  /** Bytes of every RDD block held in storage memory or on disk. */
  def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
