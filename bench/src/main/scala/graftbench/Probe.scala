package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-level counters read from the public listener events: jobs,
  * stages and tasks, with the task metrics that say where execution time
  * went. Each job is attributed to the benchmark phase that ran it through
  * a thread-local property the benchmark sets around each phase
  * ([[Probe.tagged]]); streaming micro-batch jobs carry their query's run
  * id as job group instead. Events arrive asynchronously, so results are
  * read only after [[drain]]. */
final class Probe extends SparkListener {
  import Probe._

  final case class Job(id: Int, tag: String, group: String, callSite: String,
                       startMs: Long, stageIds: Seq[Int], var endMs: Long = -1L)
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, input: Long, failed: Boolean)

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val tasks = scala.collection.mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the final stage is named after the job's call site
    val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, prop(TagKey), prop("spark.jobGroup.id"), callSite, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val i = e.taskInfo
    tasks += Task(e.stageId, i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      i.failed || i.killed)
  }

  /** Wait until every job seen so far has ended (its task events precede
    * its end event on the listener bus), at most `timeoutMs`. */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(200)
    while (synchronized(jobs.values.exists(_.endMs < 0)) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toSeq)

  /** Counters over the jobs accepted by `keep`; `wall` is the list of
    * wall-clock intervals (epoch ms) the phase ran in, for the share of
    * that time no task was running. */
  def summary(keep: Job => Boolean, wall: Seq[(Long, Long)], cores: Int): Summary = synchronized {
    val js = jobs.values.filter(keep).toSeq
    val ids = js.map(_.id).toSet
    val ts = tasks.filter(t => stageJob.get(t.stageId).exists(ids))
    val byStage = ts.groupBy(_.stageId)
    val skews = byStage.values.filter(_.size >= 2).map { st =>
      val med = Stats.median(st.map(_.runMs.toDouble).toSeq)
      if (med > 0) st.map(_.runMs).max / med else 1.0
    }.toSeq
    val wallS = wall.map { case (a, b) => (b - a) / 1000.0 }.sum
    val runS = ts.map(_.runMs).sum / 1000.0
    Summary(
      jobs = js.size, stages = byStage.size, tasks = ts.size,
      taskRunS = runS, taskCpuS = ts.map(_.cpuNs).sum / 1e9,
      taskGcS = ts.map(_.gcMs).sum / 1000.0,
      shuffleWrite = ts.map(_.shuffleWrite).sum, shuffleRead = ts.map(_.shuffleRead).sum,
      spill = ts.map(_.spill).sum, input = ts.map(_.input).sum,
      failedTasks = ts.count(_.failed),
      wallS = wallS,
      noTaskS = idleSeconds(wall, ts.map(t => (t.launchMs, t.finishMs)).toSeq),
      coreUtil = if (wallS > 0) runS / (cores * wallS) else 0.0,
      taskSkewP90 = if (skews.isEmpty) 1.0 else Stats.pct(skews, 0.9))
  }
}

object Probe {
  val TagKey = "graftbench.tag"

  final case class Summary(jobs: Int, stages: Int, tasks: Int, taskRunS: Double,
                           taskCpuS: Double, taskGcS: Double, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long, input: Long, failedTasks: Int,
                           wallS: Double, noTaskS: Double, coreUtil: Double,
                           taskSkewP90: Double)

  /** Run `body` with every job it starts tagged `tag`. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Seconds of the `wall` intervals that no task interval covers. */
  def idleSeconds(wall: Seq[(Long, Long)], busy: Seq[(Long, Long)]): Double = {
    val merged = busy.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
        case (acc, iv) => iv :: acc
      }
    wall.map { case (ws, we) =>
      val covered = merged.map { case (a, b) => math.max(0L, math.min(b, we) - math.max(a, ws)) }.sum
      (we - ws - covered).max(0L)
    }.sum / 1000.0
  }
}
