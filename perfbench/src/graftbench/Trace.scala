package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer recorder built only from Spark's public listener APIs.
  *
  * Jobs are tied to the benchmark's operations by their job group (the
  * benchmark sets `<op>|c` while a query's DataFrame is built and `<op>|w`
  * while it is written) and, for the pipeline, by their short call site.
  * Catalyst phases come from each action's `QueryExecution.tracker` and
  * are tied to an operation by when planning started. Events arrive
  * asynchronously; [[quiesce]] waits for them. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    // The result stage is named after the job's short call site.
    val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val j = Job(e.jobId, prop("spark.jobGroup.id"), callSite, e.time, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
    // A stage runs in the first job that lists it; later jobs skip it.
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null)
      tasks += Task(e.stageId, info.launchTime, info.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, stageSubmitted.getOrElse(e.stageId, info.launchTime))
  }

  private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) -1L else ph.values.map(_.startTimeMs).min
    val end = if (ph.isEmpty) -1L else ph.values.map(_.endTimeMs).max
    plans += Plan(start, end, funcName, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  /** Waits (at most `timeoutMs`) until every started job has ended, at
    * least `minPlans` actions have reported their Catalyst phases, and no
    * report arrived for 200 ms. */
  def quiesce(minPlans: Int = 0, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var seen = -1
    def settled = synchronized {
      val quiet = plans.size == seen
      seen = plans.size
      quiet && plans.size >= minPlans && jobs.forall(_.end >= 0)
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(200)
  }

  def jobsWhere(p: Job => Boolean): Seq[Job] = synchronized(jobs.filter(p).toSeq)

  def tasksOf(js: Seq[Job]): Seq[Task] = synchronized {
    val ids = js.map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stageId).exists(ids)).toSeq
  }

  /** Catalyst phases of the actions whose planning started in [from, to]
    * (wall-clock milliseconds). */
  def plansBetween(from: Long, to: Long): Seq[Plan] = synchronized {
    plans.filter(p => p.startMs >= from && p.startMs <= to).toSeq
  }

  def allPlans: Seq[Plan] = synchronized(plans.toSeq)
}

object Trace {
  final case class Job(id: Int, group: String, callSite: String, start: Long,
      stages: Seq[Int], var end: Long = -1L)
  final case class Task(stageId: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, peakMem: Long, inputBytes: Long, submitted: Long)
  final case class Plan(startMs: Long, endMs: Long, funcName: String, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)

  def attach(spark: org.apache.spark.sql.SparkSession, t: Trace): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  def detach(spark: org.apache.spark.sql.SparkSession, t: Trace): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  /** Cached RDD blocks still held by the block manager. */
  def cachedBlocks(spark: org.apache.spark.sql.SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum.toDouble

  /** Puts the scheduler, executor and Catalyst metrics of `js` and `ps`. */
  def generic(t: Trace, js: Seq[Job], ps: Seq[Plan], res: Main.Result): Unit = {
    val units = Map("jobs" -> "count", "stages" -> "count", "tasks" -> "count")
    (execMetrics(t, js) ++ planMetrics(ps)).foreach { case (k, v) =>
      val unit =
        if (k.endsWith("mb")) "MiB"
        else units.getOrElse(k.split('.').last, "s")
      res.put(k, v, unit)
    }
  }

  /** Length of the union of closed intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Executor- and scheduler-side metrics of a set of jobs. */
  def execMetrics(t: Trace, js: Seq[Job]): Map[String, Double] = {
    val ts = t.tasksOf(js)
    val span = js.map(j => (j.start, math.max(j.end, j.start)))
    val busy = unionLength(ts.map(k => (k.launch, k.finish)))
    val mb = 1024.0 * 1024.0
    Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.map(_.stages.size.toDouble).sum,
      "exec.tasks" -> ts.size.toDouble,
      "exec.idle_s" -> math.max(0L, unionLength(span) - busy) / 1000.0,
      "task.run_s" -> ts.map(_.runMs).sum / 1000.0,
      "task.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "task.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "task.wait_s" -> ts.map(k => math.max(0L, k.launch - k.submitted)).sum / 1000.0,
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spill.mb" -> ts.map(_.spill).sum / mb,
      "exec.peak_mem_mb" -> ts.map(_.peakMem).foldLeft(0L)(math.max) / mb)
  }

  def planMetrics(ps: Seq[Plan]): Map[String, Double] = Map(
    "plan.analysis_s" -> ps.map(_.analysisMs).sum / 1000.0,
    "plan.optimization_s" -> ps.map(_.optimizationMs).sum / 1000.0,
    "plan.planning_s" -> ps.map(_.planningMs).sum / 1000.0)
}
