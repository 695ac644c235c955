package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point, launched by `perfbench/run.py`:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root RUN_ROOT --home BENCH_DIR --out TRACE_DIR
  *
  * It sets the workload up three times, each in a fresh session: the
  * first is timed from JVM start and makes the run's inputs; the last
  * ends with untimed warm-up work; `setup_s` is the median of the
  * three. It then runs the closed loop for `--seconds`, checks
  * every operation's output, runs the workload's self-test and
  * prints the metrics. With `--trace 1` every operation runs twice,
  * untraced and traced in alternating order, and the run reports the
  * per-layer metrics plus the tracing overhead; the spans are written
  * once, at the end, to TRACE_DIR.
  *
  * `--write-reference FILE` instead evaluates every read-only suite
  * query once and writes the reference fingerprints.
  */
object Main {
  val SetupRepeats = 3

  /** Per-layer metrics of the traced run, with units, in the order of
    * BENCHMARK.json. Times, counts and MB are per traced operation.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "suite.plan_s" -> "s", "suite.driver_gap_s" -> "s", "suite.build_s" -> "s",
    "suite.job_s" -> "s", "suite.etl_s" -> "s", "suite.maintenance_s" -> "s",
    "suite.reconcile_s" -> "s", "suite.llm_data_s" -> "s", "suite.analytics_s" -> "s",
    "etl.compile_s" -> "s", "etl.parse_s" -> "s", "etl.parse_rows" -> "count",
    "reconcile.s" -> "s", "report.s" -> "s", "tables.readback_s" -> "s",
    "tables.files_listed" -> "count",
    "maintenance.write_s" -> "s", "maintenance.files_written" -> "count",
    "maintenance.bytes_written" -> "bytes", "maintenance.partitions_written" -> "count",
    "maintenance.files_per_partition" -> "ratio", "maintenance.retention_s" -> "s",
    "rollups.s" -> "s", "rollups.shuffle_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.empty_task_frac" -> "ratio", "spark.task_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.deser_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.task_failures" -> "count",
    "spark.codegen_compiles" -> "count",
    "storage.peak_mb" -> "MB", "rss_peak_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = opts("root")
    val home = opts("home")
    val cores = Runtime.getRuntime.availableProcessors()
    opts.get("write-reference") match {
      case Some(out) => QuerySuite.writeReference(root, home, cores, out)
      case None => run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", root, home, opts("out"), cores)
    }
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(workloadName: String, seed: Long, seconds: Double, traced: Boolean,
          root: String, home: String, outDir: String, cores: Int): Unit = {
    val wl: Workload = workloadName match {
      case "chill_cycle" => new Sequence("chill_cycle",
        Seq(new LibraryCycle(root, home, seed), new ReloadRollup(root, seed)))
      case "query_suite" => new QuerySuite(root, home, seed)
    }
    val trace = if (traced) Some(new Trace) else None
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (0 until SetupRepeats).foreach { k =>
      if (spark != null) { wl.teardown(); Session.stop(spark) }
      val t0 = System.nanoTime()
      spark = Session.create(root, cores)
      trace.foreach(_.bind(spark.sparkContext))
      // a warm JVM keeps JIT-compiled code and Spark's codegen cache
      // across sessions, so only the last set-up warms up
      wl.setup(spark, trace, first = k == 0, last = k == SetupRepeats - 1)
      setupS += (if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
    }

    val sentinelBefore = graft.Sentinel.seconds()
    val ops = mutable.ArrayBuffer[OpResult]()
    def runOp(i: Int, t: Option[Trace]): OpResult =
      try wl.op(i, t)
      catch {
        case e: Exception =>
          OpResult(s"op $i", 0.0, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
            t.nonEmpty)
      }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run makes at least two untraced/traced pairs, in
    // alternating order, so the slower first operation after set-up
    // weighs on both variants
    val minOps = if (traced) 2 else 1
    var i = 0
    while (i < minOps || wl.more(elapsed, seconds, i)) {
      trace match {
        case None => ops += runOp(i, None)
        case Some(tr) =>
          val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
          order.foreach { on =>
            if (on) {
              tr.attach(i)
              try ops += runOp(i, trace) finally tr.detach()
            } else ops += runOp(i, None)
          }
      }
      i += 1
    }
    val measuredS = elapsed
    val sentinelAfter = graft.Sentinel.seconds()

    val finalFailures = wl.finalCheck()
    val selfTest = wl.selfTest()
    val sessionConf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    }.toSeq.sorted
    val extra = wl.context
    val untraced = ops.filterNot(_.traced).toSeq
    val named = wl.named(untraced)
    wl.teardown()
    Session.stop(spark)

    val walls = wl.samples(untraced)
    val (tailS, tailPct, n) = Stats.tail(walls)
    val failures = ops.flatMap(o => o.failure.map(f => s"${o.label}: $f"))
    val failed = ops.count(_.failure.nonEmpty)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("op_s_p50", Stats.p50(walls), "s"),
      ("op_s_tail", tailS, "s"),
      ("op_s_mean", walls.sum / walls.size, "s"))
    // peak RSS follows the JVM's heap sizing more than the workload, too
    // noisy between runs to gate on: printed, and a per-layer metric
    val rssMb = vmHwmMb()
    val namedAll = named ++ Seq(("rss_peak_mb", rssMb, "MB"),
      ("failed_frac", failed.toDouble / ops.size, "ratio"))

    println(s"workload $workloadName seed $seed: ${ops.size} operations in " +
      f"$measuredS%.1f s, $failed failed")
    (e2e ++ namedAll).foreach { case (k, v, u) => println(f"  $k%-30s $v%14.6f $u") }
    println(f"  tail percentile: p$tailPct of $n samples")
    failures.take(20).foreach(f => System.err.println(s"FAILED $f"))
    finalFailures.foreach(f => System.err.println(s"FAILED final check: $f"))
    selfTest.foreach(f => System.err.println(s"FAILED self-test: $f"))
    if (selfTest.isEmpty) println("  self-test: the seeded fault was detected")

    val context = Map[String, Any](
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / Trace.MB,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "session_conf" -> sessionConf.toMap,
      "sentinel_before_s" -> sentinelBefore, "sentinel_after_s" -> sentinelAfter,
      "sentinel_nominal_s" -> graft.Sentinel.NominalS,
      "setup_runs_s" -> setupS.toSeq, "measured_s" -> measuredS,
      "operations" -> ops.size, "tail_percentile" -> tailPct, "tail_samples" -> n,
      "op_walls_s" -> ops.map(o => Map("op" -> o.label, "wall_s" -> o.wallS)).toSeq,
      "named" -> namedAll.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "final_check_failures" -> finalFailures, "self_test" -> selfTest.getOrElse("detected")
    ) ++ extra
    println("context " + Json.value(context))

    val metrics: Seq[(String, Double, String)] = trace match {
      case None => e2e
      case Some(tr) =>
        val tracedOps = ops.filter(_.traced).toSeq
        val layers = traceMetrics(tr, wl, tracedOps, untraced, rssMb)
        val file = new java.io.File(outDir, s"trace_${workloadName}_seed$seed.json")
        file.getParentFile.mkdirs()
        java.nio.file.Files.writeString(file.toPath, Json.obj(
          "context" -> Json.Raw(Json.value(context)),
          "layers" -> layers.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
          "spans" -> Json.Raw(tr.json)) + "\n")
        println(s"trace written to $file")
        layers.foreach { case (k, v, u) => println(f"  $k%-32s $v%16.6f $u") }
        layers
    }
    val correct = failed == 0 && finalFailures.isEmpty && selfTest.isEmpty
    println(Json.obj("correct" -> correct, "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap))
  }

  private def traceMetrics(tr: Trace, wl: Workload, tracedOps: Seq[OpResult],
                           untraced: Seq[OpResult], rssMb: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, tracedOps.size).toDouble
    val t = tr.total
    def mean(xs: Seq[OpResult]) = xs.map(_.wallS).sum / math.max(1, xs.size)
    val common = Map(
      "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n, "spark.tasks" -> t.tasks / n,
      "spark.empty_task_frac" -> t.emptyTasks.toDouble / math.max(1L, t.tasks),
      "spark.task_s" -> t.runMs / 1e3 / n, "spark.task_cpu_s" -> t.cpuNs / 1e9 / n,
      "spark.gc_s" -> t.gcMs / 1e3 / n, "spark.deser_s" -> t.deserMs / 1e3 / n,
      "spark.shuffle_write_mb" -> t.shuffleWrite / Trace.MB / n,
      "spark.shuffle_read_mb" -> t.shuffleRead / Trace.MB / n,
      "spark.spill_mb" -> t.spill / Trace.MB / n, "spark.input_mb" -> t.input / Trace.MB / n,
      "spark.output_mb" -> t.output / Trace.MB / n, "spark.task_failures" -> t.taskFailures / n,
      "storage.peak_mb" -> tr.storagePeak / Trace.MB,
      "rss_peak_mb" -> rssMb,
      "tables.readback_s" -> tr.seconds("tables") / n,
      "tables.files_listed" -> tr.filesListedInOps / n,
      "spark.codegen_compiles" -> tr.codegenInOps / n,
      "maintenance.write_s" -> tr.seconds("maintenance", "write") / n,
      "maintenance.files_written" -> tr.filesWritten / n,
      "maintenance.bytes_written" -> tr.bytesWritten / n,
      "maintenance.partitions_written" -> tr.partitionsWritten / n,
      "maintenance.files_per_partition" ->
        tr.filesWritten.toDouble / math.max(1L, tr.partitionsWritten),
      "trace.overhead_frac" -> (mean(tracedOps) / mean(untraced) - 1.0))
    val values = LayerMetrics.map(_._1 -> 0.0).toMap ++ common ++ wl.layers(tr, tracedOps)
    LayerMetrics.map { case (k, u) => (k, values(k), u) }
  }
}
