package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>`.
  *
  * One JVM, one Spark session at `local[nproc]`, one client. `--trace 0`
  * times operations in a closed loop for `--seconds` and prints the
  * end-to-end metrics; `--trace 1` runs two untraced and two traced
  * operations and prints the per-layer metrics. The last stdout line is the
  * result object; the line before it and a file under `--out` carry the
  * capture annotation (and, traced, every span). */
object Main {
  /** Spans reported in the per-layer metrics. */
  val SpanNames = Seq("spark.op", "sources.scan", "sources.write", "sources.readback",
    "detect.anomaly", "detect.threshold", "detect.apply", "track.track", "incremental.extend")
  val ValueNames = Seq("sources.store_mb", "sources.files", "detect.flagged",
    "detect.threshold_rows", "track.n_objects_filtered", "track.n_events_final",
    "track.total_merges", "incremental.cells_appended")
  /** Counters taken from the first traced occurrence of a span (they are
    * exact); times and fractions are medians over its occurrences. */
  val CountStats = Set("jobs", "stages", "tasks")
  val GenerateRepeats = 3
  val TraceOrder = Seq(false, true, true, false)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = new File(opts("out"))
    val work = new File(out, s"work-${ProcessHandle.current.pid}")
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg()
    // share of CPU time (steal included) other processes used just before start
    val busyBefore = sys.props.get("perfbench.busy_before").map(_.toDouble).getOrElse(Double.NaN)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val result = try {
      val wl = Workloads(workload, spark, seed, work)
      // inputs are made several times and the median counts; warm-up runs
      // once, as the first call of each code path is what it pays for
      val genS = (1 to GenerateRepeats).map(_ => timed(wl.generate())._2)
      val (setupChecks, warmS) = timed(wl.warmUp())
      val setupS = sessionS + Stats.median(genS) + warmS

      val tracer = new Tracer(spark.sparkContext, enabled = traced)
      val untraced = new Tracer(spark.sparkContext, enabled = false)
      val loop = new Loop
      // traced: untraced, traced, traced, untraced, so warm-up drift cancels
      // out of the overhead estimate
      if (traced) TraceOrder.zipWithIndex.foreach { case (t, i) =>
        loop.run(i, traced = t)(j => wl.op(j, if (t) tracer else untraced))
      } else loop.closedLoop(seconds, wl.maxOps)(i => wl.op(i, untraced))
      val peakRssMb = vmHwmKb() / 1024.0
      val (heldMb, heldRdds) = Cleanup.held(spark)
      val finishChecks =
        try wl.finish(tracer)
        catch { case e: Exception => Seq(s"end-of-run check threw ${e.getClass.getName}: ${e.getMessage}") }
      val spans = tracer.finish()
      val values = wl.layerValues
      Cleanup.release(spark, work)

      val checks = setupChecks ++ loop.failures ++ finishChecks
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_s", if (loop.times.isEmpty) 0.0 else Stats.median(loop.times.toSeq), "s"),
          ("cells_per_s", if (loop.times.isEmpty) 0.0 else loop.cells / loop.times.sum, "1/s"),
          ("peak_rss_mb", peakRssMb, "MB"))
        else layerMetrics(spans, values, heldMb, heldRdds, loop)
      val capture = Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "trace" -> (if (traced) "1" else "0"), "seconds" -> Json.num(seconds),
        "nproc" -> cores.toString,
        "load_avg_start" -> Json.num(loadStart), "load_avg_end" -> Json.num(loadAvg()),
        "contended" -> (busyBefore > 0.25).toString,
        "git_commit" -> Json.str(sys.props.getOrElse("perfbench.commit", "unknown")),
        "source_digest" -> Json.str(sys.props.getOrElse("perfbench.digest", "unknown")),
        "java_version" -> Json.str(sys.props("java.version")),
        "spark_version" -> Json.str(spark.version),
        "busy_before" -> Json.num(busyBefore),
        "session_s" -> Json.num(sessionS),
        "generate_s" -> genS.map(Json.num).mkString("[", ",", "]"), "warmup_s" -> Json.num(warmS),
        "op_times_s" -> loop.times.map(Json.num).mkString("[", ",", "]"),
        "traced_op_times_s" -> loop.tracedTimes.map(Json.num).mkString("[", ",", "]"),
        "fail_frac" -> Json.num(loop.failed.toDouble / loop.attempted),
        "failures" -> checks.map(Json.str).mkString("[", ",", "]"),
        "spans" -> spans.map(_.json).mkString("[", ",", "]"))
      val line = Json.obj(Seq(
        "correct" -> checks.isEmpty.toString,
        "attempted" -> loop.attempted.toString,
        "failed" -> loop.failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
      val capturePath = Paths.get(out.getPath, "captures",
        s"$workload-trace${if (traced) 1 else 0}-seed$seed.json")
      Files.createDirectories(capturePath.getParent)
      Files.write(capturePath, (Json.obj(capture :+ ("result" -> line)) + "\n").getBytes(UTF_8))
      checks.foreach(c => System.err.println(s"perfbench check failed: $c"))
      (Json.obj(capture.filter(_._1 != "spans")), line)
    } finally {
      spark.stop()
      Cleanup.deleteTree(work)
    }
    println(s"capture ${result._1}")
    println(result._2)
  }

  /** Per-layer metrics of a traced run, every name present: a span the
    * workload does not enter reports 0. */
  def layerMetrics(spans: Seq[SpanRecord], values: Map[String, Double], heldMb: Double,
      heldRdds: Int, loop: Loop): Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_.span.name)
    val spanMetrics = for (name <- SpanNames; (stat, i) <- SpanRecord.StatUnits.zipWithIndex) yield {
      val recs = byName.getOrElse(name, Nil)
      val v =
        if (recs.isEmpty) 0.0
        else if (CountStats(stat._1)) recs.head.stats(i)._2
        else Stats.median(recs.map(_.stats(i)._2))
      (s"$name.${stat._1}", v, stat._2)
    }
    val overhead =
      if (loop.times.isEmpty || loop.tracedTimes.isEmpty) 0.0
      else Stats.median(loop.tracedTimes.toSeq) - Stats.median(loop.times.toSeq)
    spanMetrics ++
      ValueNames.map(n => (n, values.getOrElse(n, 0.0), ValueUnits(n))) ++
      Seq(("plans.storage_mb_held", heldMb, "MB"), ("plans.rdds_held", heldRdds.toDouble, "count"),
        ("trace_overhead_s", overhead, "s"))
  }

  private val ValueUnits = Map("sources.store_mb" -> "MB").withDefaultValue("count")

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), in kB. */
  private def vmHwmKb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toDouble).getOrElse(0.0)
  }
}

/** Releasing what a run left behind. */
object Cleanup {
  /** RDD blocks the block manager holds now, in MB (memory and disk), and
    * their RDD count. Checkpoints nobody references stay until a GC lets the
    * context cleaner drop them; releasing them earlier is what this shows. */
  def held(spark: SparkSession): (Double, Int) = {
    val info = spark.sparkContext.getRDDStorageInfo
    (info.map(i => i.memSize + i.diskSize).sum / 1e6, info.length)
  }

  /** Unpersist every RDD and cached table and delete the run's stores. */
  def release(spark: SparkSession, work: File): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Option(work.listFiles).toSeq.flatten.foreach(deleteTree)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
