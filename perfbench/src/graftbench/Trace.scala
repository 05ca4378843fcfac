package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

final case class JobEv(id: Int, startMs: Long)
final case class TaskEv(
    stageId: Int, stageAttempt: Int, launchMs: Long, durMs: Long, cpuNs: Long, gcMs: Long,
    resultBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)
final case class ProgressEv(
    tsMs: Long, runId: String, batchId: Long, triggerMs: Long, addBatchMs: Long,
    planningMs: Long, walCommitMs: Long, inputRows: Long, stateRows: Long, stateBytes: Long)

/** Job and task events, recorded only around traced operation runs.
  * Operations run one at a time, so every event is attributed to the
  * operation whose wall-clock window holds its start time (`setJobGroup` tags would miss
  * micro-batch jobs: a streaming query resets the job group to its
  * runId). */
final class SparkTrace extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobEv]()
  val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[TaskEv]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(JobEv(e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(TaskEv(e.stageId, e.stageAttemptId, e.taskInfo.launchTime, e.taskInfo.duration,
        m.executorCpuTime, m.jvmGCTime, m.resultSize, m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead, m.diskBytesSpilled))
    }
  }
}

/** Micro-batch progress of the streaming gates, one small record per
  * batch. The pipeline workload always records it: its batch latencies
  * are defined on `durationMs.triggerExecution`. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[ProgressEv]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators
    events.add(ProgressEv(
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.runId.toString, p.batchId,
      ms("triggerExecution"), ms("addBatch"), ms("queryPlanning"), ms("walCommit"),
      p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }

  def within(r: OpRun): Seq[ProgressEv] =
    events.asScala.filter(e => e.tsMs >= r.startMs && e.tsMs <= r.endMs).toSeq
}

/** Per-layer metrics derived from the traced operation runs, plus the
  * span tree (operation → phase → job) written when the run ends. The
  * listener is attached only around a traced run of an operation. */
final class Tracer(spark: SparkSession) {
  val sparkTrace = new SparkTrace

  def start(): Unit = spark.sparkContext.addSparkListener(sparkTrace)
  def stop(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkTrace)
  }

  private def inWindow(ms: Long, r: OpRun): Boolean = ms >= r.startMs && ms <= r.endMs

  private def phaseOf(ms: Long, r: OpRun): String =
    if (ms < r.constructEndMs) "construct" else if (ms < r.planEndMs) "plan" else "execute"

  /** Spark counters of the given (traced) operation runs. */
  def sparkMetrics(runs: Seq[OpRun]): Map[String, Double] = {
    val jobs = sparkTrace.jobs.asScala.toSeq.filter(j => runs.exists(r => inWindow(j.startMs, r)))
    val constructJobs = jobs.count(j => runs.exists(r => inWindow(j.startMs, r) && phaseOf(j.startMs, r) == "construct"))
    val tasks = sparkTrace.tasks.asScala.toSeq.filter(t => runs.exists(r => inWindow(t.launchMs, r)))
    val byStage = tasks.groupBy(t => (t.stageId, t.stageAttempt))
    val skews = byStage.values.filter(_.size >= 2).map { ts =>
      val ds = ts.map(_.durMs.toDouble)
      ds.max / math.max(1.0, Stats.median(ds))
    }.toSeq
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> byStage.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / mb,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / mb,
      "spark.spill_mb" -> tasks.map(_.spillBytes).sum / mb,
      "spark.result_mb" -> tasks.map(_.resultBytes).sum / mb,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "phase.construct_jobs" -> constructJobs.toDouble)
  }

  /** Spans: operation → phase → job, ids unique within the run. */
  def spans(runs: Seq[OpRun]): Seq[Map[String, Any]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var next = 0
    def span(parent: Int, kind: String, name: String, s: Long, e: Long, extra: Map[String, Any] = Map.empty): Int = {
      next += 1
      out += Map("id" -> next, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e) ++ extra
      next
    }
    val jobs = sparkTrace.jobs.asScala.toSeq.sortBy(_.startMs)
    runs.foreach { r =>
      val opId = span(0, "operation", r.op.name, r.startMs, r.endMs,
        Map("pass" -> r.pass, "layer" -> r.op.layer, "ok" -> r.ok))
      val phases = Seq(
        "construct" -> (r.startMs, r.constructEndMs),
        "plan" -> (r.constructEndMs, r.planEndMs),
        "execute" -> (r.planEndMs, r.endMs))
      phases.foreach { case (ph, (s, e)) =>
        val phId = span(opId, "phase", ph, s, e)
        jobs.filter(j => inWindow(j.startMs, r) && phaseOf(j.startMs, r) == ph).foreach { j =>
          val end = Option(sparkTrace.jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs)
          span(phId, "job", s"job ${j.id}", j.startMs, end)
        }
      }
    }
    out.toSeq
  }
}
