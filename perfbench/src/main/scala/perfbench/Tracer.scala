package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload, as the harness saw it. `layer` names
  * the program layer the operation drives (queries, streaming, index,
  * dashboard). Start and end are epoch milliseconds, for matching listener
  * events; latencies are seconds measured with `System.nanoTime`. */
final case class Op(id: Int, name: String, layer: String, kind: String,
                    pass: Int, startMs: Long, endMs: Long, latencyS: Double,
                    constructS: Double, execS: Double, ok: Boolean)

/** Counts recorded at an operation's boundary by [[Tracer]]. */
final case class OpCounts(
    constructJobs: Int = 0, jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    taskCpuS: Double = 0, gcS: Double = 0, jobBusyS: Double = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, peakExecMemBytes: Long = 0, recordsRead: Long = 0,
    analysisMs: Double = 0, optimizationMs: Double = 0, planningMs: Double = 0,
    latestOffsetMs: Double = 0, queryPlanningMs: Double = 0,
    addBatchMs: Double = 0, walCommitMs: Double = 0, commitOffsetsMs: Double = 0,
    batchJobs: Int = 0)

/** Span recorder and layer census for the traced run. Registers the
  * benchmark's own listeners (a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener); nothing inside the program is
  * instrumented. Listener events are buffered, the bus is drained after
  * every operation, and the operation's events are then folded into one
  * [[OpCounts]] plus child spans. Spans stay in memory and are written as
  * JSONL when the run ends.
  *
  * Jobs are attributed to an operation by the `perfbench.op` local
  * property the harness sets around it, and to its construction or
  * execution phase by `perfbench.phase`. Micro-batch jobs run on the
  * stream's own thread, which does not see those properties; they belong
  * to the operation in flight (the loop is closed, so there is exactly
  * one). */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val progress = mutable.ArrayBuffer.empty[ProgressRec]
  val spans = mutable.ArrayBuffer.empty[String]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L,
        p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt),
        p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse(""),
        p.exists(_.getProperty("sql.streaming.queryId") != null))
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec)
      s.completed += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.records += m.inputMetrics.recordsRead
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = plan(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val d = e.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      progress += ProgressRec(e.progress.id.toString, e.progress.batchId,
        ms("latestOffset"), ms("queryPlanning"), ms("addBatch"), ms("walCommit"),
        ms("commitOffsets"))
    }
  })

  /** Catalyst phase times of a query execution. The listener sees only
    * executions that run an action; a registry query's own DataFrame is
    * analysed during construction and then only wrapped by the `noop`
    * write, so the harness passes it here. An execution seen twice counts
    * once. */
  def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    lock.synchronized {
      plans += PlanRec(qe.id, end, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  /** Tag the calling thread's jobs with an operation and phase. */
  def phase(opId: Int, name: String): Unit = {
    sc.setLocalProperty(OpKey, opId.toString)
    sc.setLocalProperty(PhaseKey, name)
  }

  def clearPhase(): Unit = {
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(PhaseKey, null)
  }

  /** Progress events seen so far for a streaming query. */
  def progressCount(queryId: String): Int = lock.synchronized {
    progress.count(_.queryId == queryId)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  /** Forget everything buffered so far (set-up work is not an operation). */
  def reset(): Unit = {
    clearPhase(); drain()
    lock.synchronized {
      jobs.clear(); stageToJob.clear(); stages.clear(); plans.clear(); progress.clear()
    }
  }

  /** Fold the finished operation's buffered events into counts and spans,
    * and forget them. Call after [[drain]]. Untagged jobs outside any
    * operation (the harness's own checks) are dropped. */
  def close(op: Op, origin: Long): OpCounts = lock.synchronized {
    val mine = jobs.values.filter(j => j.op.contains(op.id) ||
      (j.op.isEmpty && j.startMs >= op.startMs - 1 && j.startMs <= op.endMs + 1)).toSeq
    val mineIds = mine.map(_.id).toSet
    val stageIds = stageToJob.collect { case (s, j) if mineIds(j) => s }.toSeq
    val st = stageIds.flatMap(stages.get)
    val busy = unionLength(mine.map(j =>
      (math.max(j.startMs, op.startMs), math.min(if (j.endMs < 0) op.endMs else j.endMs, op.endMs))))
    val pl = plans.filter(p => p.endMs >= op.startMs && p.endMs <= op.endMs + 1)
      .groupBy(_.qeId).values.map(_.maxBy(p => p.optimizationMs + p.planningMs)).toSeq
    val pr = progress.toSeq
    val c = OpCounts(
      constructJobs = mine.count(_.phase == "construct"),
      jobs = mine.size,
      stages = st.map(_.completed).sum,
      tasks = st.map(_.tasks).sum,
      taskCpuS = st.map(_.cpuNs).sum / 1e9,
      gcS = st.map(_.gcMs).sum / 1e3,
      jobBusyS = busy / 1e3,
      shuffleReadBytes = st.map(_.shuffleRead).sum,
      shuffleWriteBytes = st.map(_.shuffleWrite).sum,
      spillBytes = st.map(_.spill).sum,
      peakExecMemBytes = (0L +: st.map(_.peakMem)).max,
      recordsRead = st.map(_.records).sum,
      analysisMs = pl.map(_.analysisMs).sum,
      optimizationMs = pl.map(_.optimizationMs).sum,
      planningMs = pl.map(_.planningMs).sum,
      latestOffsetMs = pr.map(_.latestOffsetMs).sum,
      queryPlanningMs = pr.map(_.queryPlanningMs).sum,
      addBatchMs = pr.map(_.addBatchMs).sum,
      walCommitMs = pr.map(_.walCommitMs).sum,
      commitOffsetsMs = pr.map(_.commitOffsetsMs).sum,
      batchJobs = mine.count(_.streaming))
    val opSpan = s"op${op.id}"
    spans += Json.obj(Seq(
      "span" -> Json.str(opSpan), "name" -> Json.str(op.name),
      "layer" -> Json.str(op.layer), "kind" -> Json.str(op.kind),
      "parent" -> "null", "op" -> op.id.toString, "pass" -> op.pass.toString,
      "start_s" -> Json.num((op.startMs - origin) / 1e3),
      "end_s" -> Json.num((op.endMs - origin) / 1e3),
      "latency_s" -> Json.num(op.latencyS), "ok" -> op.ok.toString,
      "counts" -> countsJson(op, c)))
    if (op.layer == "queries") {
      val split = op.startMs + math.round(op.constructS * 1e3)
      spans += childSpan(op, "queries.construct", op.startMs, split, origin, op.constructS)
      spans += childSpan(op, "operators.exec", split, op.endMs, origin, op.execS)
    }
    mine.foreach { j =>
      val parent = if (j.phase == "construct") s"$opSpan.queries.construct"
        else if (op.layer == "queries") s"$opSpan.operators.exec" else opSpan
      spans += Json.obj(Seq(
        "span" -> Json.str(s"$opSpan.job${j.id}"), "name" -> Json.str("job"),
        "parent" -> Json.str(parent), "op" -> op.id.toString,
        "start_s" -> Json.num((j.startMs - origin) / 1e3),
        "end_s" -> Json.num(((if (j.endMs < 0) op.endMs else j.endMs) - origin) / 1e3)))
    }
    // forget this operation's events and anything older, which can no
    // longer be attributed
    jobs.filterInPlace((id, j) => !mineIds(id) && j.startMs > op.endMs)
    stageToJob.filterInPlace((_, j) => jobs.contains(j))
    stages.filterInPlace((s, _) => stageToJob.contains(s))
    plans.filterInPlace(_.endMs > op.endMs + 1)
    progress.clear()
    c
  }

  private def childSpan(op: Op, name: String, s: Long, e: Long, origin: Long,
                        dur: Double): String =
    Json.obj(Seq(
      "span" -> Json.str(s"op${op.id}.$name"), "name" -> Json.str(name),
      "parent" -> Json.str(s"op${op.id}"), "op" -> op.id.toString,
      "start_s" -> Json.num((s - origin) / 1e3), "end_s" -> Json.num((e - origin) / 1e3),
      "duration_s" -> Json.num(dur)))
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  private final case class JobRec(id: Int, startMs: Long, endMs: Long,
                                  op: Option[Int], phase: String, streaming: Boolean)
  private final class StageRec {
    var completed = 0; var tasks = 0; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakMem = 0L; var records = 0L
  }
  private final case class PlanRec(qeId: Long, endMs: Long, analysisMs: Double,
                                   optimizationMs: Double, planningMs: Double)
  private final case class ProgressRec(queryId: String, batchId: Long,
      latestOffsetMs: Double, queryPlanningMs: Double, addBatchMs: Double,
      walCommitMs: Double, commitOffsetsMs: Double)

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Op latency that no independent measurement accounts for: latency
    * minus the time the op's jobs were running (listener job intervals, in
    * both phases) minus its Catalyst phase times. It is what the driver
    * spends outside jobs and Catalyst: `Tables` file listing and schema
    * handling, DataFrame building, job submission and result handling. */
  def remainderS(op: Op, c: OpCounts): Double =
    op.latencyS - c.jobBusyS - (c.analysisMs + c.optimizationMs + c.planningMs) / 1e3

  def countsJson(op: Op, c: OpCounts): String = Json.obj(Seq(
    "queries.construct_s" -> Json.num(op.constructS),
    "queries.construct_jobs" -> c.constructJobs.toString,
    "catalyst.analysis_ms" -> Json.num(c.analysisMs),
    "catalyst.optimization_ms" -> Json.num(c.optimizationMs),
    "catalyst.planning_ms" -> Json.num(c.planningMs),
    "operators.exec_s" -> Json.num(op.execS),
    "operators.job_busy_s" -> Json.num(c.jobBusyS),
    "operators.driver_gap_s" -> Json.num(math.max(0.0, op.latencyS - c.jobBusyS)),
    "operators.jobs" -> c.jobs.toString,
    "operators.stages" -> c.stages.toString,
    "operators.tasks" -> c.tasks.toString,
    "operators.task_cpu_s" -> Json.num(c.taskCpuS),
    "operators.gc_s" -> Json.num(c.gcS),
    "operators.shuffle_read_bytes" -> c.shuffleReadBytes.toString,
    "operators.shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
    "operators.spill_bytes" -> c.spillBytes.toString,
    "operators.peak_exec_mem_bytes" -> c.peakExecMemBytes.toString,
    "operators.records_read" -> c.recordsRead.toString,
    "streaming.latest_offset_ms" -> Json.num(c.latestOffsetMs),
    "streaming.query_planning_ms" -> Json.num(c.queryPlanningMs),
    "streaming.add_batch_ms" -> Json.num(c.addBatchMs),
    "streaming.wal_commit_ms" -> Json.num(c.walCommitMs),
    "streaming.commit_offsets_ms" -> Json.num(c.commitOffsetsMs),
    "streaming.batch_jobs" -> c.batchJobs.toString,
    "remainder_s" -> Json.num(remainderS(op, c))))
}
