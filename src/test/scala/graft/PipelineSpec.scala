package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.SyntheticBitacora
import graft.ops.Kpi
import graft.report.Report
import graft.streaming.StreamingKpi

/** Generator distributions (S9), report rendering (A7-A10/K6), streaming KPI
  * (M5), and the CSV round-trip (K2→S2). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("S9 generator: deterministic per seed, reference distributions") {
    val end = 1754956800L // fixed end time -> fully deterministic
    val a = SyntheticBitacora.generate(spark, 20000, seed = 42, endUtcSeconds = Some(end))
    val b = SyntheticBitacora.generate(spark, 20000, seed = 42, endUtcSeconds = Some(end))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty) // same seed -> same data
    val rows = a.cache()
    val n = rows.count().toDouble
    val statusMix = rows.filter($"endpoint" =!= "/status/403")
      .agg(
        (count_if($"status_code" === 200) / count(lit(1))).as("p200"),
        (count_if($"status_code".between(400, 499)) / count(lit(1))).as("p4"),
        (count_if($"status_code".between(500, 599)) / count(lit(1))).as("p5"))
      .collect().head
    assert(math.abs(statusMix.getAs[Double]("p200") - 0.88) < 0.02)
    assert(math.abs(statusMix.getAs[Double]("p4") - 0.08) < 0.02)
    assert(math.abs(statusMix.getAs[Double]("p5") - 0.04) < 0.02)
    val s403 = rows.filter($"endpoint" === "/status/403")
    assert(s403.filter($"status_code" =!= 403).count() == 0)
    val errRate = rows.filter($"parse_result" === "error").count() / n
    assert(math.abs(errRate - 0.05) < 0.01)
    val bounds = rows.agg(min($"elapsed_ms"), max($"elapsed_ms")).collect().head
    assert(bounds.getDouble(0) >= 50.0 && bounds.getDouble(1) <= 800.0)
    rows.unpersist()
  }

  test("end-to-end: generate -> KPI csv -> read back -> report html") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e")
    val data = SyntheticBitacora.generate(spark, 2000, seed = 7,
      endUtcSeconds = Some(1754956800L))
    SyntheticBitacora.writeJsonl(data, s"$dir/datos", singleFile = true)
    val kpi = Kpi.bitacoraKpi(Kpi.readBitacora(spark, s"$dir/datos"))
    Kpi.writeKpiCsv(kpi, s"$dir/kpi")
    val back = Kpi.readKpiCsv(spark, s"$dir/kpi")
    assert(back.count() == kpi.count())
    assert(back.schema == Kpi.kpiSchema)
    val html = Report.buildReport(back, umbralP90 = 300.0)
    assert(html.contains("Total requests"))
    assert(html.contains("alerta"))
    assert(html.contains("chart-data"))
    // endpoint normalization happened upstream: /status/403 collapsed
    assert(html.contains("/status") && !html.contains("/status/403"))
  }

  test("K5 charts: full artifact set, valid deterministic PNGs, img refs") {
    import graft.report.Charts
    val dir = java.nio.file.Files.createTempDirectory("graft_charts")
    val data = SyntheticBitacora.generate(spark, 2000, seed = 7,
      endUtcSeconds = Some(1754956800L))
    val kpi = Kpi.bitacoraKpi(Kpi.readBitacora(
      spark, { SyntheticBitacora.writeJsonl(data, s"$dir/datos", singleFile = true); s"$dir/datos" }))
    val outHtml = dir.resolve("report.html")
    Report.writeReportArtifacts(kpi, umbralP90 = 300.0, outHtml)
    val html = java.nio.file.Files.readString(outHtml)
    assert(html.contains(s"""<img src="${Report.RequestsPngName}""""))
    assert(html.contains(s"""<img src="${Report.P90PngName}""""))
    for (name <- Seq(Report.RequestsPngName, Report.P90PngName)) {
      val img = javax.imageio.ImageIO.read(dir.resolve(name).toFile)
      assert(img != null, s"$name did not decode as an image")
      assert(img.getWidth == 960 && img.getHeight == 720) // 6.4x4.8in @ dpi 150
      // bars actually painted: matplotlib C0 blue present
      val blue = new java.awt.Color(0x1f, 0x77, 0xb4).getRGB
      val pixels = for (x <- 0 until img.getWidth by 7; y <- 0 until img.getHeight by 7)
        yield img.getRGB(x, y)
      assert(pixels.count(_ == blue) > 50, s"$name has no bar pixels")
    }
    // deterministic bytes: same input -> byte-identical artifact
    val again = java.nio.file.Files.createTempDirectory("graft_charts2")
    Charts.plotP90(Seq("/a", "/b"), Seq(120.0, 240.5), again.resolve("p.png"))
    Charts.plotP90(Seq("/a", "/b"), Seq(120.0, 240.5), again.resolve("q.png"))
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(again.resolve("p.png")),
      java.nio.file.Files.readAllBytes(again.resolve("q.png"))))
    // nice-tick helper: 1/2/5-decade steps
    assert(Charts.tickStep(100.0) == 20.0)
    assert(Charts.tickStep(7.0) == 2.0)
    assert(Charts.tickStep(0.6) == 0.1)
  }

  test("M5 streaming KPI: windowed aggregate matches batch on same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, String, String)]
    val streamDf = mem.toDF().toDF(
      "timestamp_utc", "endpoint", "status_code", "elapsed_ms", "parse_result")
    val out = StreamingKpi.kpiStream(
      StreamingKpi.normalizedStream(streamDf), watermark = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("kpi_stream").start()
    try {
      val day1 = Seq(
        ("2026-08-10T10:00:00Z", "/get", "200", "100.0", "ok"),
        ("2026-08-10T11:00:00Z", "/get", "500", "300.0", "ok"),
        ("2026-08-10T12:00:00Z", "/status/403", "403", "50.0", "error"))
      mem.addData(day1: _*)
      q.processAllAvailable()
      // advance watermark past day1 so append emits it
      mem.addData(("2026-08-12T00:00:01Z", "/get", "200", "10.0", "ok"))
      q.processAllAvailable()
      val got = spark.table("kpi_stream")
        .orderBy($"date_utc", $"endpoint_base").collect()
      assert(got.length == 2)
      val getRow = got.find(_.getAs[String]("endpoint_base") == "/get").get
      assert(getRow.getAs[Long]("requests_total") == 2)
      assert(getRow.getAs[Long]("server_5xx") == 1)
      assert(getRow.getAs[Double]("avg_elapsed_ms") == 200.0)
      val statusRow = got.find(_.getAs[String]("endpoint_base") == "/status").get
      assert(statusRow.getAs[Long]("client_4xx") == 1)
      assert(statusRow.getAs[Long]("parse_errors") == 1)
    } finally q.stop()
  }

  /** Runs `body` under a job group of its own and returns the jobs it
    * started and the executed plans of the SQL executions it finished,
    * both read after the listener bus has drained. */
  private def jobsAndPlans(body: => Unit)
      : (Int, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val group = s"pipelinespec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graftbridge.CoreBridge.drainListeners(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    sc.setJobGroup(group, "recipe sink")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graftbridge.CoreBridge.drainListeners(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    (jobs.get, plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq)
  }

  /** Every physical node of `p`, including those behind adaptive
    * execution's wrappers. */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val direct = p.collect { case n => n }
    direct ++ direct.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => Nil
    }
  }

  test("recipe sinks: no range exchange, one p90 sort, at most 2 jobs each") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, SortArray}
    val dir = java.nio.file.Files.createTempDirectory("graft_sinks")
    // a log spread over 3 files, so the scan-order key spans files
    SyntheticBitacora.generate(spark, 3000, seed = 5, endUtcSeconds = Some(1754956800L))
      .coalesce(3).write.json(s"$dir/log")
    assert(java.nio.file.Files.list(dir.resolve("log")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".json")) == 3)
    def kpi = Kpi.bitacoraKpi(Kpi.readBitacora(spark, s"$dir/log"))

    val (kpiJobs, kpiPlans) = jobsAndPlans(Kpi.writeKpiCsv(kpi, s"$dir/kpi"))
    assert(kpiPlans.size == 1, s"expected the write's plan, got ${kpiPlans.size}")
    val plan = kpiPlans.head
    assert(!plan.toString.toLowerCase.contains("rangepartitioning"),
      s"the single-file sink still range-partitions:\n$plan")
    // the faithful p90 sorts its value buffer once per group; the avg's
    // sort of the (key, value) buffer is the other, separate sort_array
    val p90Sorts = nodes(plan).flatMap(_.expressions)
      .flatMap(_.collect { case s: SortArray if s.base.isInstanceOf[ArrayTransform] => s })
    assert(p90Sorts.size == 1, s"p90 buffer sorted ${p90Sorts.size} times:\n$plan")
    assert(kpiJobs <= 2, s"KPI sink ran $kpiJobs jobs")
    // same rows, same order as the frame itself
    val back = Kpi.readKpiCsv(spark, s"$dir/kpi")
    assert(back.collect().toSeq == kpi.collect().toSeq)

    val (reportJobs, _) = jobsAndPlans(
      Report.writeReportArtifacts(back, 300.0, dir.resolve("report.html")))
    assert(reportJobs <= 2, s"report ran $reportJobs jobs")
  }

  test("writeJsonl(singleFile): coalesce(1)'s bytes, written in parallel") {
    import java.nio.file.{Files, Path, Paths}
    val dir = Files.createTempDirectory("graft_jsonl_single")
    def frame(n: Long, seed: Long) =
      SyntheticBitacora.generate(spark, n, seed = seed, endUtcSeconds = Some(1754956800L))
    def partFiles(d: Path): Seq[Path] = Files.list(d).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".json")).toSeq
    def onlyPart(d: Path): Array[Byte] = {
      val parts = partFiles(d)
      assert(parts.size == 1, s"$d holds ${parts.size} part files")
      Files.readAllBytes(parts.head)
    }
    def sameBytes(df: org.apache.spark.sql.DataFrame, out: Path): Unit = {
      val ref = Files.createTempDirectory("graft_jsonl_ref").resolve("ref")
      df.coalesce(1).write.json(ref.toString)
      assert(java.util.Arrays.equals(onlyPart(out), onlyPart(ref)))
    }

    val first = frame(4000, 3)
    assert(first.rdd.getNumPartitions == 4)
    val out = dir.resolve("datos")
    SyntheticBitacora.writeJsonl(first, out.toString, singleFile = true)
    sameBytes(first, out)
    assert(spark.read.json(out.toString).count() == 4000)

    // overwrite: the second call's output replaces the first
    val second = frame(500, 4)
    SyntheticBitacora.writeJsonl(second, out.toString, singleFile = true)
    sameBytes(second, out)
    // no staging directory left beside the target
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq == Seq("datos"))

    // a relative path resolves against the working directory
    val rel = s"target/graft_jsonl_rel_${java.util.UUID.randomUUID()}"
    try {
      SyntheticBitacora.writeJsonl(first, rel, singleFile = true)
      sameBytes(first, Paths.get(rel).toAbsolutePath)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rel))
  }

  test("report endpoint table: weighted means + alerta flag") {
    val kpi = Seq(
      (java.sql.Date.valueOf("2026-08-10"), "/get", 10L, 9L, 1L, 0L, 0L, 100.0, 400.0),
      (java.sql.Date.valueOf("2026-08-11"), "/get", 30L, 30L, 0L, 0L, 0L, 200.0, 200.0),
      (java.sql.Date.valueOf("2026-08-10"), "/xml", 5L, 5L, 0L, 0L, 1L, 50.0, 80.0))
      .toDF("date_utc", "endpoint_base", "requests_total", "success_2xx",
        "client_4xx", "server_5xx", "parse_errors", "avg_elapsed_ms", "p90_elapsed_ms")
    val t = Report.endpointTable(kpi, umbralP90 = 300.0)
      .orderBy($"endpoint_base").collect()
    val get = t.find(_.getAs[String]("endpoint_base") == "/get").get
    // weighted: (100*10+200*30)/40 = 175 ; p90 (400*10+200*30)/40 = 250
    assert(get.getAs[Double]("avg_elapsed_ms") == 175.0)
    assert(get.getAs[Double]("p90_elapsed_ms") == 250.0)
    assert(get.getAs[String]("alerta_p90") == "NO")
    assert(get.getAs[Double]("pct_2xx") == 97.5)
    // order: requests desc
    assert(Report.endpointTable(kpi, 300.0).collect()
      .head.getAs[String]("endpoint_base") == "/get")
  }
}
