package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters fed by Spark's own listeners during a traced pass.
  *
  * Three listeners feed one instance: a [[SparkListener]] (jobs, stages,
  * task metrics, SQL scan-time accumulators), a [[QueryExecutionListener]]
  * (Catalyst phase times from each action's `QueryPlanningTracker`) and a
  * [[StreamingQueryListener]] (micro-batch progress). Events arrive on
  * listener threads, so every update holds the instance lock; readers
  * drain the bus first (see [[org.apache.spark.perfbench.Bus]]).
  */
final class Trace extends SparkListener {
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  /** (start, end) epoch ms of every finished job. */
  private val jobs = mutable.ArrayBuffer[(Long, Long)]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private var worstSkew = 0.0
  private var stateMem = 0.0

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  def reset(): Unit = synchronized {
    c.clear(); jobStart.clear(); jobs.clear(); stageTasks.clear()
    worstSkew = 0.0; stateMem = 0.0
  }

  /** Counter totals since the last reset, plus the derived skew and
    * state-memory figures. */
  def snapshot(): Map[String, Double] = synchronized {
    c.toMap + ("shuffle.skew" -> worstSkew) + ("streaming.state_mem_bytes" -> stateMem)
  }

  def jobIntervals: Seq[(Long, Long)] = synchronized { jobs.toSeq }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time; add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("sched.stages", 1)
    stageTasks.remove(e.stageInfo.stageId).foreach { ds =>
      if (ds.size >= 2) {
        val sorted = ds.sorted
        val median = sorted(sorted.size / 2).toDouble
        if (median > 0) worstSkew = math.max(worstSkew, sorted.last / median)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    if (e.reason != Success) add("sched.failed_tasks", 1)
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    e.taskInfo.accumulables.foreach { a =>
      if (a.name.contains("scan time"))
        a.update.foreach(u => add("sources.scan_s", u.toString.toDouble / 1e3))
    }
    val m = e.taskMetrics
    if (m != null) {
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("sink.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      add("sink.rows_written", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  /** Catalyst phase times of every action the session runs. */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  /** Adds the analysis, optimization and physical-planning time a
    * query execution's tracker recorded. */
  def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => add("plan.analysis_s", p.durationMs / 1e3))
    ph.get("optimization").foreach(p => add("plan.optimize_s", p.durationMs / 1e3))
    ph.get("planning").foreach(p => add("plan.physical_s", p.durationMs / 1e3))
  }

  /** Micro-batch progress of every streaming query. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        add("streaming.batches", 1)
        add("streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
        add("streaming.commit_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        p.stateOperators.foreach { s =>
          add("streaming.state_commit_s", s.commitTimeMs / 1e3)
          add("streaming.state_rows_updated", s.numRowsUpdated.toDouble)
          stateMem = math.max(stateMem, s.memoryUsedBytes.toDouble)
        }
      }
  }
}

object Trace {
  /** Milliseconds of the window [from, to] that no job interval covers. */
  def uncovered(from: Long, to: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    (to - from) - covered
  }
}
