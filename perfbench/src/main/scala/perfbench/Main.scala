package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** One benchmark run inside one JVM: session start, workload set-up and
  * one warm cycle (together `setup_s`), then `--seconds` worth of
  * measured cycles: round(seconds / [[Workload.cycleSeconds]]), at least
  * one. A fixed count keeps a slow stretch of the machine from changing
  * how many cycles a run takes. With `--trace 1` every other cycle
  * is traced (starting with
  * the second), so the run also measures what tracing costs.
  *
  * Usage (run.py builds the classpath and the fixtures):
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --out FILE [--corrupt KIND]
  * Writes one JSON object to FILE; output checks that fail are listed
  * in it, and the process still exits 0 so run.py can report them.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Path.of(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .config("spark.hadoop.fs.lake.impl", classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.emu.impl", classOf[CountingFileSystem].getName)
      // Spark's own job/stage/SQL history grows the heap with every job
      // run; keep it short so heap_mb tracks what the program retains
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val env = Env(spark, work, seed, opt.getOrElse("corrupt", ""))
    val wl: Workload = workload match {
      case "lake_sync" => new LakeSync(env)
      case "lake_metadata" => new LakeMetadata(env)
      case "query_mix" => new QueryMix(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Recorder(spark, wl.storage, cores)
    val cycles = scala.collection.mutable.ArrayBuffer.empty[CycleRec]
    var prepS, warmS = 0.0
    try {
      val t1 = System.nanoTime()
      wl.setup()
      prepS = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      rec.beginCycle(0, trace = false)
      rec.endCycle(wl.warm(rec))
      warmS = (System.nanoTime() - t2) / 1e9

      val n = math.max(if (trace) 2 else 1, math.round(seconds / wl.cycleSeconds).toInt)
      for (c <- 1 to n) {
        val traced = trace && c % 2 == 0
        rec.beginCycle(c, traced)
        cycles += rec.endCycle(wl.cycle(c, rec))
      }
    } catch {
      case e: Exception =>
        rec.failures += s"run stopped: $e"
        e.printStackTrace()
    }

    // Full GCs until the live set settles: the first one lets Spark's
    // ContextCleaner drop blocks of unreachable RDDs and broadcasts,
    // which only a later GC reclaims.
    val heap = ManagementFactory.getMemoryMXBean
    var heapBytes = Long.MaxValue
    var settled = false
    var gcs = 0
    while (!settled && gcs < 5) {
      System.gc()
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      val used = heap.getHeapMemoryUsage.getUsed
      settled = heapBytes - used < 1000000L
      heapBytes = used
      gcs += 1
    }
    val heapMb = heapBytes / 1e6
    val window = cycles.map(_.seconds).sum
    val stepSeconds = (name: String) =>
      rec.spans.filter(s => s.name == name && s.cycle > 0).map(_.durNs / 1e9).toSeq
    val traced = cycles.filter(_.traced)
    val layerKeys = traced.flatMap(_.values.keys).distinct
    val layers = layerKeys.map(k => k -> median(traced.map(_.values.getOrElse(k, 0.0)).toSeq)) ++ Seq(
      "copy_vs_rewrite_x" -> ratio(median(stepSeconds("rewrite")), median(stepSeconds("copy"))),
      "trace.overhead_frac" -> (ratio(median(traced.map(_.seconds).toSeq),
        median(cycles.filter(!_.traced).map(_.seconds).toSeq)) - 1.0),
      "trace.spans" -> rec.spans.size.toDouble,
      "jvm.heap_mb" -> heapMb)

    val sc = spark.sparkContext
    val header = Json.obj(Seq(
      "cpus" -> cores.toString,
      "default_parallelism" -> sc.defaultParallelism.toString,
      "jvm_flags" -> Json.arr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq.map(Json.str)),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1e6).toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "hadoop" -> Json.str(org.apache.hadoop.util.VersionInfo.getVersion),
      "driver_pool" -> graft.fs.Fs.driverPoolSize.toString))
    val result = Json.obj(Seq(
      "header" -> header,
      "session_s" -> sessionS.toString,
      "prep_s" -> prepS.toString,
      "warm_s" -> warmS.toString,
      "cycles" -> Json.arr(cycles.toSeq.map(c => Json.obj(Seq("cycle" -> c.cycle.toString,
        "traced" -> c.traced.toString, "seconds" -> c.seconds.toString, "items" -> c.items.toString)))),
      "cycle_s_p50" -> median(cycles.filter(!_.traced).map(_.seconds).toSeq).toString,
      "items_per_s" -> (if (window > 0) cycles.map(_.items).sum / window else 0.0).toString,
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> v.toString }),
      "attempted" -> (rec.attempted + cycles.map(_.items).sum).toString,
      "failures" -> Json.arr(rec.failures.toSeq.map(Json.str))))
    Files.writeString(Path.of(opt("out")), result)
    if (trace) {
      val traces = work.getParent.resolveSibling("traces")
      Files.createDirectories(traces)
      Files.write(traces.resolve(s"$workload-seed$seed.jsonl"), rec.spans.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "cycle" -> s.cycle.toString, "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "dur_ns" -> s.durNs.toString))
      }.asJava)
    }
    spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
