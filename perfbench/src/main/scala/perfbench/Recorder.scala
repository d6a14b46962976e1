package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call into a layer's public function, or a Spark job seen
  * by the probe (parent = the step whose job group it ran under).
  */
final case class Span(id: Int, parent: Int, name: String, cycle: Int,
    startMs: Long, endMs: Long, durNs: Long)

/** What one cycle measured. `values` holds the per-layer numbers and is
  * filled only when the cycle was traced.
  */
final case class CycleRec(cycle: Int, traced: Boolean, seconds: Double, items: Long,
    values: Map[String, Double])

/** Times the workload's steps, keeps spans in memory, and in traced
  * cycles collects per-layer counters from Spark, the JVM and the
  * storage wrapper.
  *
  * Cycle time is the sum of the in-cycle steps only: fixture changes,
  * output checks and the reference arm run between steps, untimed.
  */
final class Recorder(spark: SparkSession, storage: CountingFileSystem.Scheme, cores: Int) {
  private val sc = spark.sparkContext
  private val probe = new SparkProbe(sc)
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  private var cycle = -1
  private var traced = false
  private var cycleNs = 0L
  private var nextSpan = 1
  private var cycleSpan = 0
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val stepSpans = mutable.ArrayBuffer.empty[(Span, String, Boolean)]
  private var gc0 = 0L
  private var plannerAside = 0L
  /** Duration of the last step, in seconds. */
  var lastSeconds = 0.0

  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private def span(parent: Int, name: String, startMs: Long, endMs: Long, durNs: Long): Span = {
    val s = Span(nextSpan, parent, name, cycle, startMs, endMs, durNs)
    nextSpan += 1
    spans += s
    s
  }

  def add(key: String, v: Double): Unit = values(key) = values.getOrElse(key, 0.0) + v

  def beginCycle(c: Int, trace: Boolean): Unit = {
    cycle = c
    traced = trace
    cycleNs = 0L
    values.clear()
    stepSpans.clear()
    storage.cycle = c
    cycleSpan = span(0, "cycle", System.currentTimeMillis(), 0L, 0L).id
    if (traced) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(probe)
      gc0 = gcMs
      plannerAside = 0L
    }
  }

  /** Time one call into a layer. `key` names its time metric; counters
    * of the Spark jobs it ran are filed under `name`. In-cycle steps add
    * to the cycle time; the others (the reference arm) do not.
    */
  def step[T](name: String, key: String = null, inCycle: Boolean = true)(body: => T): T = {
    val timeKey = Option(key).getOrElse(s"$name.s")
    val id = nextSpan
    nextSpan += 1
    sc.setJobGroup(Recorder.group(id), name)
    val calls0 = if (traced) storage.counts else Map.empty[String, Long]
    val bytes0 = if (traced) CountingFileSystem.bytes(storage.name) else (0L, 0L)
    if (traced && !inCycle) plannerAside -= probe.drainedPlanMs()
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      lastSeconds = ns / 1e9
      val m1 = System.currentTimeMillis()
      sc.clearJobGroup()
      if (traced && !inCycle) plannerAside += probe.drainedPlanMs()
      val s = Span(id, cycleSpan, name, cycle, m0, m1, ns)
      spans += s
      stepSpans += ((s, timeKey, inCycle))
      if (inCycle) {
        cycleNs += ns
        if (traced) {
          val calls1 = storage.counts
          calls1.foreach { case (op, n) => add(s"hfs.calls.$op", (n - calls0(op)).toDouble) }
          val bytes1 = CountingFileSystem.bytes(storage.name)
          add("hfs.read_mb", (bytes1._1 - bytes0._1) / 1e6)
          add("hfs.write_mb", (bytes1._2 - bytes0._2) / 1e6)
          add(s"$name.mb", (bytes1._2 - bytes0._2) / 1e6)
        }
      }
    }
  }

  /** An output check: counted as attempted, recorded when it fails. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val failure =
      try { if (ok) None else Some(s"cycle $cycle: $what") }
      catch { case e: Exception => Some(s"cycle $cycle: $what: $e") }
    failures ++= failure
  }

  def endCycle(items: Long): CycleRec = {
    val seconds = cycleNs / 1e9
    val root = spans.find(_.id == cycleSpan).get
    spans(spans.indexOf(root)) = root.copy(endMs = System.currentTimeMillis(), durNs = cycleNs)
    if (!traced) return CycleRec(cycle, traced = false, seconds, items, Map.empty)

    val (groups, plannerMs) = probe.take()
    sc.removeSparkListener(probe)
    spark.listenerManager.unregister(probe)
    stepSpans.foreach { case (s, timeKey, inCycle) =>
      val g = groups.get(Recorder.group(s.id))
      val jobs = g.map(_.jobSpans.toSeq).getOrElse(Nil)
        .map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) }.filter { case (a, b) => b > a }
      jobs.foreach { case (a, b) => span(s.id, "spark.job", a, b, (b - a) * 1000000L) }
      add(timeKey, s.durNs / 1e9)
      add(Recorder.selfKey(timeKey), (s.durNs / 1e6 - Recorder.covered(jobs).toDouble).max(0.0) / 1e3)
      g.foreach { a =>
        add(s"${s.name}.jobs", a.jobs.toDouble)
        add(s"${s.name}.stages", a.stages.toDouble)
        add(s"${s.name}.tasks", a.tasks.toDouble)
        add(s"${s.name}.task_run_s", a.runMs / 1e3)
        if (inCycle) {
          add("spark.jobs", a.jobs.toDouble)
          add("spark.stages", a.stages.toDouble)
          add("spark.tasks", a.tasks.toDouble)
          add("spark.task_run_s", a.runMs / 1e3)
          add("spark.task_cpu_s", a.cpuNs / 1e9)
          add("spark.task_deser_s", a.deserMs / 1e3)
          add("spark.task_gc_s", a.gcMs / 1e3)
          add("spark.shuffle_read_mb", a.shuffleRead / 1e6)
          add("spark.shuffle_write_mb", a.shuffleWrite / 1e6)
          add("spark.spill_mb", a.spill / 1e6)
        }
      }
    }
    add("spark.plan_ms", (plannerMs - plannerAside).max(0L).toDouble)
    add("spark.core_busy_frac", values.getOrElse("spark.task_run_s", 0.0) / (seconds * cores))
    add("jvm.gc_s", (gcMs - gc0) / 1e3)
    val calls = CountingFileSystem.Ops.map(op => values.getOrElse(s"hfs.calls.$op", 0.0)).sum
    add("hfs.calls_per_item", if (items > 0) calls / items else 0.0)
    val (maxAttempts, mutations, distinct) = storage.attemptStats(cycle)
    add("retry.attempts", maxAttempts.toDouble)
    add("retry.useful_ratio", if (mutations > 0) distinct.toDouble / mutations else 0.0)
    CycleRec(cycle, traced = true, seconds, items, values.toMap)
  }
}

object Recorder {
  /** The job group of a step: its span id, so Spark's counters attribute to the span. */
  def group(spanId: Int): String = s"perfbench-span-$spanId"

  /** `copy.s` → `copy.self_s`, `query.build_s` → `query.build_self_s`. */
  def selfKey(timeKey: String): String =
    if (timeKey.endsWith(".s")) timeKey.dropRight(2) + ".self_s"
    else timeKey.stripSuffix("_s") + "_self_s"

  /** Milliseconds covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
