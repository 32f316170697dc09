package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfBenchAccess
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Raw per-layer records read from Spark's own listeners while tracing:
 * one record per job (its stages' task metrics summed), per SQL execution
 * (planning phases and the executed plan's scan / cache / write metrics),
 * per streaming micro-batch, plus the ids of RDDs whose blocks were cached.
 *
 * Records carry the job group they ran under; micro-batch jobs run under
 * their stream's run id, which [[streamOwner]] maps back to the query that
 * started the stream. Attribution to queries happens when the dump is
 * aggregated, not here. Callers [[take]] the buffers after draining the
 * listener bus at the end of each pass, so every record belongs to the
 * pass it is taken in.
 */
final class LayerProbe extends SparkListener {
  private final class JobAcc(val job: Int, val group: String, val phase: String,
                             val exec: Long) {
    var stages, tasks, scanTasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var outBytes, outRows = 0L
  }

  @volatile var currentQuery: String = ""
  @volatile var currentQid: Long = -1L

  private val lock = new Object
  private val pending = mutable.Map.empty[Int, JobAcc]
  private val stageJob = mutable.Map.empty[Int, JobAcc]
  private val scanStages = mutable.Set.empty[Int]
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val streamOwner = mutable.Map.empty[String, Map[String, Any]]
  private val cachedRdds = mutable.Set.empty[Int]

  private def locked[T](f: => T): T = lock.synchronized(f)

  override def onJobStart(e: SparkListenerJobStart): Unit = locked {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val acc = new JobAcc(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.job.description").getOrElse(""),
      prop("spark.sql.execution.id").flatMap(_.toLongOption).getOrElse(-1L))
    e.stageIds.foreach(s => stageJob(s) = acc)
    pending(e.jobId) = acc
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = locked {
    if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
      scanStages += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
    val id = e.stageInfo.stageId
    stageJob.get(id).foreach { acc =>
      acc.stages += 1
      if (scanStages.remove(id)) acc.scanTasks += e.stageInfo.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { acc =>
      acc.tasks += 1
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        acc.spill += m.diskBytesSpilled
        acc.outBytes += m.outputMetrics.bytesWritten
        acc.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
    pending.remove(e.jobId).foreach { a =>
      stageJob.filterInPlace((_, v) => v ne a)
      jobs += Map("job" -> a.job, "group" -> a.group, "phase" -> a.phase,
        "exec" -> a.exec, "stages" -> a.stages, "tasks" -> a.tasks,
        "scan_tasks" -> a.scanTasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "shuffle_write_bytes" -> a.shuffleWrite,
        "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
        "write_bytes" -> a.outBytes, "write_rows" -> a.outRows)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = locked {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      if (info.storageLevel.isValid) cachedRdds += rdd.rddId
    }
  }

  // A QueryExecution's own id differs from its SQL execution id, which is
  // what carries the job group; the end event links the two.
  private val execGroup = mutable.Map.empty[Long, String]
  private val qeExecution = mutable.Map.empty[Long, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      locked(execGroup(s.executionId) = s.jobGroupId.getOrElse(""))
    case s: SparkListenerSQLExecutionEnd =>
      PerfBenchAccess.queryExecutionId(s).foreach(q => locked(qeExecution(q) = s.executionId))
    case _ =>
  }

  /** Planning phases and executed-plan metrics of each SQL execution. */
  val executions: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe, ok = false)
  }

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def phaseMs(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
    var scanFiles, scanBytes, scanRows, memScans = 0L
    var writeFiles, writeRows, writeBytes = 0L
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    LayerProbe.walk(qe.executedPlan) {
      case s: FileSourceScanLike =>
        scanFiles += metric(s, "numFiles")
        scanBytes += metric(s, "filesSize")
        scanRows += metric(s, "numOutputRows")
      case s: BatchScanExec => scanRows += metric(s, "numOutputRows")
      case _: InMemoryTableScanExec => memScans += 1
      case w: DataWritingCommandExec =>
        writeFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        writeRows += w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        writeBytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
      case _ =>
    }
    locked {
      execs += Map("qe" -> qe.id, "ok" -> ok, "analysis_ms" -> phaseMs("analysis"),
        "optimizer_ms" -> phaseMs("optimization"), "planning_ms" -> phaseMs("planning"),
        "scan_files" -> scanFiles, "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
        "mem_scans" -> memScans, "write_files" -> writeFiles,
        "write_rows" -> writeRows, "write_bytes" -> writeBytes)
    }
  }

  /** Micro-batch progress; a stream's run id is mapped to the query that
    * started it (the start event is delivered on the starting thread). */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      locked(streamOwner(e.runId.toString) = Map("query" -> currentQuery, "qid" -> currentQid))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      locked {
        progress += Map("run" -> p.runId.toString, "batch" -> p.batchId,
          "rows" -> p.numInputRows, "trigger_ms" -> ms("triggerExecution"),
          "add_batch_ms" -> ms("addBatch"), "wal_commit_ms" -> ms("walCommit"),
          "planning_ms" -> ms("queryPlanning"))
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Hand over (and clear) everything recorded since the last call. */
  def take(): Map[String, Any] = locked {
    val grouped = execs.toList.map { x =>
      val exec = qeExecution.getOrElse(x("qe").asInstanceOf[Long], -1L)
      x ++ Map("exec" -> exec, "group" -> execGroup.getOrElse(exec, ""))
    }
    val out = Map("jobs" -> jobs.toList, "execs" -> grouped,
      "progress" -> progress.toList, "streams" -> streamOwner.toMap,
      "cached_rdds" -> cachedRdds.toList.sorted)
    jobs.clear(); execs.clear(); progress.clear(); streamOwner.clear()
    cachedRdds.clear(); execGroup.clear(); qeExecution.clear()
    out
  }
}

object LayerProbe {
  /** Visit every node of an executed plan, including adaptive query stages
    * and subqueries. */
  def walk(p: SparkPlan)(f: PartialFunction[SparkPlan, Unit]): Unit = {
    f.applyOrElse(p, (_: SparkPlan) => ())
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }
}
