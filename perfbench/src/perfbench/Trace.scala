package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Epoch milliseconds with sub-millisecond resolution: the listener bus
  * stamps jobs with `System.currentTimeMillis`, so spans use the same epoch
  * and `nanoTime` only for the fraction.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, endMs: Double)

/** Per-job record: timing, the span that issued it and what its stages
  * cost. Mutable because the listener fills it in over several events.
  */
final class JobRec(val id: Int, val startMs: Long, val span: Int,
                   val site: String) {
  var endMs: Long = -1L
  var runMs: Long = 0L
  var cpuNs: Long = 0L
  var shuffleWrite: Long = 0L
  var shuffleRead: Long = 0L
  var spill: Long = 0L
  val stages = mutable.ArrayBuffer[(Int, Long)]() // (stage id, duration ms)

  def toMap(taskMs: Int => Seq[Long]): Map[String, Any] = Map(
    "id" -> id, "start_ms" -> startMs, "end_ms" -> endMs, "span" -> span,
    "site" -> site, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "spill" -> spill,
    "stages" -> stages.map { case (s, d) =>
      Map("id" -> s, "duration_ms" -> d, "task_ms" -> taskMs(s)) })
}

/** The traced run's recorder. Spans are pass -> layer call -> Spark job;
  * a job names its parent span through the `perfbench.span` local
  * property, which threads started inside a call (Catalog's worker pool)
  * inherit. Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val Prop = "perfbench.span"

  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val sql = mutable.ArrayBuffer[Map[String, Any]]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private var nextId = 0
  private var attached = false

  // listener callbacks run on the bus thread, readers on the main thread
  private def locked[A](body: => A): A = synchronized(body)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(Prop).map(_.toInt).getOrElse(-1)
      // a stage is named after the call site of the action that made it
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).name
      val rec = new JobRec(e.jobId, e.time, span, site)
      jobs(e.jobId) = rec
      e.stageIds.foreach(stageJob(_) = rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      locked {
        val info = e.stageInfo
        stageJob.get(info.stageId).foreach { j =>
          val m = info.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.diskBytesSpilled
          }
          val d = for (s <- info.submissionTime; c <- info.completionTime)
            yield c - s
          j.stages += ((info.stageId, d.getOrElse(0L)))
        }
      }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, execNs: Long,
                       ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val start = if (phases.isEmpty) -1L
        else phases.values.map(_.startTimeMs).min
      locked {
        sql += Map("func" -> func, "start_ms" -> start,
          "planning_ms" -> planning, "exec_ms" -> execNs / 1e6, "ok" -> ok)
      }
    }
    override def onSuccess(func: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      record(func, qe, durationNs, ok = true)
    override def onFailure(func: String, qe: QueryExecution,
                           e: Exception): Unit =
      record(func, qe, 0L, ok = false)
  }

  /** Listeners are attached only around traced passes, so untraced passes
    * in the same JVM run exactly as in a run without tracing.
    */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    attached = false
  }

  /** Run `body` as a span under `parent`; its jobs carry the span id,
    * which `body` also receives so it can open child spans.
    */
  def span[A](kind: String, name: String, parent: Int)(body: Int => A): A = {
    val id = locked { nextId += 1; nextId }
    val prev = sc.getLocalProperty(Prop)
    val start = Clock.nowMs
    sc.setLocalProperty(Prop, id.toString)
    try body(id)
    finally {
      sc.setLocalProperty(Prop, prev)
      locked { spans += Span(id, parent, kind, name, start, Clock.nowMs) }
    }
  }

  def spanMaps: Seq[Map[String, Any]] = locked {
    spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs))
  }

  def jobMaps: Seq[Map[String, Any]] = locked {
    jobs.values.toSeq.map(_.toMap(s =>
      taskMs.get(s).map(_.toSeq).getOrElse(Nil)))
  }

  def sqlMaps: Seq[Map[String, Any]] = locked { sql.toSeq }
}

/** What a workload calls its layer functions through. Untraced, it only
  * runs the body; traced, each call becomes a span under the current pass.
  */
final class Calls(tracer: Option[Tracer], val passSpan: Int) {
  def apply[A](kind: String, name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(kind, name, passSpan)(_ => body)
    case None => body
  }
}
