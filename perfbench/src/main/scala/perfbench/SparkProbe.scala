package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's counters, grouped by the job group the benchmark sets on its
  * caller thread before each step (`Recorder.step`). Registered only
  * while a traced cycle runs; [[drain]] empties the listener bus before
  * any read, so no fixed sleep is needed.
  */
final class SparkProbe(sc: SparkContext) extends SparkListener with QueryExecutionListener {

  final class Group {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, deserMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    /** Wall-clock (start, end) ms of each job. */
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.HashMap.empty[String, Group]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private var planMs = 0L

  private def group(g: String): Group = groups.getOrElseUpdate(g, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).getOrElse("")
    val a = group(g)
    a.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => group(g).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g => val a = group(g); a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      val a = group(g)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def addPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    planMs += Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = addPlan(qe)

  /** Where SparkContext.setJobGroup stores the group (SPARK_JOB_GROUP_ID). */
  private val JobGroupKey = "spark.jobGroup.id"

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  /** Planner milliseconds seen so far, after draining the bus. */
  def drainedPlanMs(): Long = { drain(); synchronized(planMs) }

  /** Counters by job group and planner milliseconds since the last
    * call, after draining the bus; resets both.
    */
  def take(): (Map[String, Group], Long) = {
    drain()
    synchronized {
      val out = groups.toMap
      groups.clear()
      stageGroup.clear()
      jobStart.clear()
      val p = planMs
      planMs = 0L
      (out, p)
    }
  }
}
