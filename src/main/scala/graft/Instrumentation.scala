package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBus
import scala.collection.mutable

/** Runtime execution metrics for one action — the observability layer a
  * real engine deployment needs (dashboards, regression gates, capacity
  * planning) and the honest counterpart of this repo's plan-shape
  * assertions: a plan can LOOK map-side; these numbers prove whether any
  * bytes actually crossed a shuffle, spilled to disk, or piled onto one
  * skewed task, and how the wall time splits into Spark jobs and the
  * driver-side gaps between them.
  *
  * This is the only code in the engine that listens to Spark; Bench and
  * Verify measure through it.
  */
object Instrumentation {

  /** A job at most this long is "small": its fixed scheduling cost is
    * comparable to its work.
    */
  private val SmallJobMs = 50L

  /** One Spark job of the measured action: listener-bus timestamps (epoch
    * ms), the call site of the action that submitted it, and the executor
    * CPU its tasks spent.
    */
  final case class Job(id: Int, startMs: Long, endMs: Long, site: String,
                       executorCpuNs: Long) {
    def durationMs: Long = endMs - startMs
  }

  final case class RunMetrics(
      tasks: Long,
      stages: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      diskSpillBytes: Long,
      memorySpillBytes: Long,
      peakTaskShuffleWriteBytes: Long,
      inputRecords: Long,
      outputRows: Long,
      startMs: Long,
      endMs: Long,
      jobs: Seq[Job]) {
    /** Max single-task share of shuffle write — the skew signal: ~1/p for
      * a balanced p-partition stage, ~1.0 when one task carries the key.
      */
    def shuffleWriteSkew: Double =
      if (shuffleWriteBytes == 0) 0.0
      else peakTaskShuffleWriteBytes.toDouble / shuffleWriteBytes

    def smallJobs: Int = jobs.count(_.durationMs <= SmallJobMs)

    def executorCpuS: Double = jobs.map(_.executorCpuNs).sum / 1e9

    /** Per job (start order), the driver-only time before it: since the
      * measured window opened or the last earlier job ended, 0 when it
      * started while another job was still running.
      */
    lazy val gapsMs: Seq[Long] =
      jobs.scanLeft((0L, startMs)) { case ((_, covered), j) =>
        (math.max(0L, j.startMs - covered), math.max(covered, j.endMs))
      }.tail.map(_._1)

    /** Wall time of the measured window during which no job ran:
      * planning, driver-side loops and collects between jobs.
      */
    def driverGapS: Double = {
      val lastEnd = jobs.foldLeft(startMs)((c, j) => math.max(c, j.endMs))
      (gapsMs.sum + math.max(0L, endMs - lastEnd)) / 1e3
    }
  }

  /** Run `action` and return (result, metrics of every job it started).
    * The listener bus is drained before the listener is added and before
    * it is read, so events of earlier actions cannot leak in and every
    * event of this one has landed. Re-entrant: a nested `measure` sees its
    * own jobs, and the enclosing one sees them too.
    */
  def measure[T](spark: SparkSession)(action: => T): (T, RunMetrics) = {
    val sc = spark.sparkContext
    // listener callbacks run on the bus thread, readers on this one
    val lock = new Object
    val jobs = mutable.Map[Int, Job]()
    val stageJob = mutable.Map[Int, Int]()
    val sqlSites = mutable.Map[Long, String]()
    var tasks, stages, sRead, sWrite, dSpill, mSpill, peakW, inRec,
        outRows = 0L
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          lock.synchronized(sqlSites(s.executionId) = s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        lock.synchronized {
          // A Dataset action's jobs (AQE submits them from a thread pool)
          // carry its SQL execution id, whose description is the action's
          // short call site; a plain RDD action's result stage (highest
          // id) is named after its call site.
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .flatMap(id => sqlSites.get(id.toLong))
            .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse("?")
          jobs(e.jobId) = Job(e.jobId, e.time, e.time, site, 0L)
          e.stageIds.foreach(stageJob(_) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lock.synchronized {
          jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(endMs = e.time))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) lock.synchronized {
          stageJob.get(e.stageId).foreach { id =>
            val j = jobs(id)
            jobs(id) =
              j.copy(executorCpuNs = j.executorCpuNs + m.executorCpuTime)
            tasks += 1
            sRead += m.shuffleReadMetrics.totalBytesRead
            val w = m.shuffleWriteMetrics.bytesWritten
            sWrite += w
            peakW = math.max(peakW, w)
            dSpill += m.diskBytesSpilled
            mSpill += m.memoryBytesSpilled
            inRec += m.inputMetrics.recordsRead
            outRows += m.outputMetrics.recordsWritten
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          if (stageJob.contains(e.stageInfo.stageId)) stages += 1
        }
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val startMs = System.currentTimeMillis()
      val result = action
      val endMs = System.currentTimeMillis()
      ListenerBus.drain(sc)
      lock.synchronized {
        val js = jobs.values.toSeq.sortBy(j => (j.startMs, j.id))
        (result, RunMetrics(tasks, stages, sRead, sWrite, dSpill, mSpill,
          peakW, inRec, outRows, startMs, endMs, js))
      }
    } finally sc.removeSparkListener(listener)
  }
}
