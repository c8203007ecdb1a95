package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload in this JVM and writes its raw
  * measurements to `<work>/result.json` for `perfbench/run.py`.
  *
  *   PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> [--data <dir>]
  *
  * `--data` holds the generated tables the catalog workload reads.
  * After set-up and the workload's untimed warm-up passes (the first one
  * writes the outputs the checks read) it runs timed passes until
  * `--seconds` have passed, at least 3 of them. With `--trace 1`
  * untraced and traced passes alternate, at least 2 of each, and the
  * per-layer numbers come from the traced passes.
  */
object PerfBench {

  /** Per-layer metrics, all reported on every workload (0 where the
    * workload does not reach the layer). */
  val LayerMetrics: Seq[String] = Seq(
    "sources.client_s", "sources.requests", "sources.useful_ratio",
    "gen.write_s", "gen.tasks", "gen.task_cpu_s",
    "ops.kpi_s", "ops.scan_tasks", "ops.task_cpu_s", "ops.shuffle_write_bytes",
    "ops.spill_bytes", "ops.peak_exec_mem_mb", "ops.gc_s",
    "report.report_s", "report.jobs",
    "streaming.add_batch_s", "streaming.batches", "streaming.state_rows",
    "streaming.state_mb", "streaming.task_cpu_s",
    "queries.build_s", "queries.run_s", "queries.jobs", "queries.tasks",
    "queries.task_cpu_s", "queries.shuffle_read_bytes",
    "queries.shuffle_write_bytes", "queries.spill_bytes",
    "queries.peak_exec_mem_mb", "queries.gc_s", "queries.zero_job_ratio",
    "queries.query_p50_s", "streaming.batch_p50_s",
    "operators.stage_derive_s", "operators.stages_derived",
    "jvm.peak_rss_mb", "trace.overhead_s")

  /** The listener's counters for one pass, under the layer metric names. */
  private def listenerMetrics(d: Map[String, LayerStats]): Map[String, Double] = {
    def s(l: String) = d.getOrElse(l, new LayerStats)
    val mb = 1024.0 * 1024.0
    Map(
      "gen.tasks" -> s("gen").tasks.toDouble,
      "gen.task_cpu_s" -> s("gen").cpuNs / 1e9,
      "ops.scan_tasks" -> s("ops").inputTasks.toDouble,
      "ops.task_cpu_s" -> s("ops").cpuNs / 1e9,
      "ops.shuffle_write_bytes" -> s("ops").shuffleWriteBytes.toDouble,
      "ops.spill_bytes" -> s("ops").spillBytes.toDouble,
      "ops.peak_exec_mem_mb" -> s("ops").peakExecMem / mb,
      "ops.gc_s" -> s("ops").gcMs / 1e3,
      "report.jobs" -> s("report").jobs.toDouble,
      "streaming.task_cpu_s" -> s("streaming").cpuNs / 1e9,
      "queries.jobs" -> s("queries").jobs.toDouble,
      "queries.tasks" -> s("queries").tasks.toDouble,
      "queries.task_cpu_s" -> s("queries").cpuNs / 1e9,
      "queries.shuffle_read_bytes" -> s("queries").shuffleReadBytes.toDouble,
      "queries.shuffle_write_bytes" -> s("queries").shuffleWriteBytes.toDouble,
      "queries.spill_bytes" -> s("queries").spillBytes.toDouble,
      "queries.peak_exec_mem_mb" -> s("queries").peakExecMem / mb,
      "queries.gc_s" -> s("queries").gcMs / 1e3)
  }

  /** Stages derived in this JVM and their summed derive seconds, from
    * `Staging.provenanceJson` (`{"name": seconds | "prebuilt", ...}`). */
  private def stageMetrics(): Map[String, Double] = {
    val secs = "\"[^\"]+\":([0-9.]+)".r
      .findAllMatchIn(graft.operators.Staging.provenanceJson)
      .map(_.group(1).toDouble).toSeq
    Map("operators.stage_derive_s" -> secs.sum,
      "operators.stages_derived" -> secs.size.toDouble)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String) = opt.getOrElse(k, sys.error(s"--$k is required"))
    val workload = arg("workload")
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath

    graft.cli.CliUtil.pinLocale()
    val spark: SparkSession = graft.cli.CliUtil.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val t = new Tracer(spark.sparkContext, java.util.UUID.randomUUID().toString)
    val c = new Ctx(spark, t, work, arg("seed").toLong)
    val w: Workload = workload match {
      case "kpi_recipe" => new KpiRecipe(c)
      case "kpi_stream" => new KpiStream(c)
      case "catalog_loops" => new Catalog(c, arg("data"))
      case other => sys.error(s"unknown workload $other")
    }

    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layerRows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]

    /** Runs passes numbered from 0 for `budget` seconds, at least
      * `minPasses` of them. */
    def loop(budget: Double, minPasses: Int)(pass: Int => Unit): Unit = {
      val start = System.nanoTime()
      var n = 0
      while (n < minPasses || (System.nanoTime() - start) / 1e9 < budget) {
        pass(n)
        n += 1
      }
    }
    def timedPass(): Double = {
      val p0 = System.nanoTime()
      w.pass()
      (System.nanoTime() - p0) / 1e9
    }

    val result = try {
      val sessionReadyMs = System.currentTimeMillis()
      w.setup()
      w.warmup()
      val setup = stageMetrics()
      for (_ <- 2 to w.warmupPasses) w.pass()
      val setupCalls = t.takeAccumulated()
      val firstPassMs = System.currentTimeMillis()
      if (!trace) loop(seconds, 3)(_ => passes += timedPass())
      // untraced and traced passes alternate, so both sample the same
      // stretch of JIT warm-up and their difference is the tracing cost
      else loop(seconds, 4) { n =>
        if (n % 2 == 0) {
          passes += timedPass()
          w.passExtras()
        } else {
          t.enable()
          t.takeAccumulated()
          t.drain()
          val before = t.listener.snapshot()
          t.listener.resetPeaks()
          traced += timedPass()
          t.drain()
          val delta = t.listener.snapshot().map { case (l, s) =>
            l -> s.minus(before.getOrElse(l, new LayerStats)) }
          layerRows += t.takeAccumulated() ++ listenerMetrics(delta) ++
            w.passExtras()
          t.disable()
        }
      }
      val peak = Map("jvm.peak_rss_mb" -> peakRssMb())
      w.check()

      // per-layer numbers: the median over traced passes of each pass's
      // value; stage derivation happens once, in set-up
      val layers = LayerMetrics.map { k =>
        k -> (if (k == "trace.overhead_s")
          median(traced.toSeq) - median(passes.toSeq)
        else (setup ++ peak).getOrElse(k,
          median(layerRows.toSeq.map(_.getOrElse(k, 0.0)))))
      }
      Seq(
        "workload" -> workload,
        "session_ready_ms" -> sessionReadyMs,
        "setup_calls_s" -> setupCalls,
        "first_pass_ms" -> firstPassMs,
        "passes_s" -> passes.toSeq,
        "traced_passes_s" -> traced.toSeq,
        "attempted" -> c.attempted,
        "failed" -> c.failures.size,
        "failures" -> c.failures.toSeq,
        "layers" -> layers.toMap,
        "external_checks" -> w.externalChecks)
    } finally {
      w.close()
      if (trace) t.writeSpans(work.resolve("spans.jsonl"))
      spark.stop()
    }
    Files.write(work.resolve("result.json"), Json.obj(result).getBytes("UTF-8"))
  }
}
