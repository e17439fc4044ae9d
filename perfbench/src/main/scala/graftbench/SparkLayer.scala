package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished task, attributed to the job group and streaming batch of
  * the job that ran it.
  */
final case class TaskRec(jobId: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
    runMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    input: Long, peakMem: Long)

final case class JobRec(jobId: Int, group: String, batch: String, submitMs: Long,
    stages: Int)

/** Scheduler-side totals over a set of jobs. `busyMs` is the time at
  * least one of their tasks was running.
  */
final case class LayerTotals(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
    runS: Double, gcS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    input: Long, peakMem: Long, busyMs: Long)

/** The `spark` layer as seen through Spark's public listener events:
  * jobs, stages and task metrics, keyed by the job group the benchmark
  * sets around each call and by the engine's streaming batch id.
  */
final class SparkLayer extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val ended = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var fence: Option[(String, CountDownLatch)] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), e.time, e.stageInfos.size))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.put(e.jobId, e.time)
    fence.foreach { case (g, latch) =>
      if (Option(jobs.get(e.jobId)).exists(_.group == g)) latch.countDown()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = stageJob.getOrDefault(e.stageId, -1)
    if (m != null) tasks.add(TaskRec(job, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.peakExecutionMemory))
  }

  /** Blocks until every event posted before this call has been delivered
    * here: runs one tiny job and waits for its end event, which the
    * listener bus delivers after everything queued ahead of it.
    */
  def drain(sc: SparkContext): Unit = {
    val g = s"fence-${System.nanoTime()}"
    val latch = new CountDownLatch(1)
    fence = Some((g, latch))
    sc.setJobGroup(g, g)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    latch.await(30, TimeUnit.SECONDS)
    fence = None
  }

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def jobsWhere(f: JobRec => Boolean): Seq[JobRec] = allJobs.filter(f)
  def endMs(jobId: Int): Option[Long] = Option(ended.get(jobId)).map(_.longValue())

  def totals(f: JobRec => Boolean): LayerTotals = {
    val js = jobsWhere(f)
    val ids = js.map(_.jobId).toSet
    val ts = tasks.asScala.toSeq.filter(t => ids.contains(t.jobId))
    LayerTotals(js.size, js.map(_.stages).sum, ts.size,
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.runMs).sum / 1e3, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleRead).sum, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      ts.map(_.input).sum, if (ts.isEmpty) 0L else ts.map(_.peakMem).max,
      SparkLayer.unionMs(ts.map(t => (t.launchMs, t.finishMs))))
  }
}

object SparkLayer {
  /** Length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Bytes the block manager holds for persisted and checkpointed RDDs. */
  def blockBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
