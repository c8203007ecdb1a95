package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** A benchmark workload, driven as a closed loop by one client. */
trait Workload {
  /** Untimed: fixtures, stub server, generated inputs. */
  def setup(): Unit = ()
  /** Untimed pass run before the first timed one; its outputs are the
    * ones the output checks read. */
  def warmup(): Unit
  /** Untimed passes before the first timed one, [[warmup]] included. */
  def warmupPasses: Int = 1
  /** One timed pass. */
  def pass(): Unit
  /** Layer counters the listener cannot see, read after each traced pass. */
  def passExtras(): Map[String, Double] = Map.empty
  /** In-JVM output checks, run after the timed region. */
  def check(): Unit = ()
  /** Output checks the launcher runs in DuckDB after the JVM exits. */
  def externalChecks: Seq[Map[String, Any]] = Nil
  def close(): Unit = ()

  protected def median(xs: Seq[Double]): Double = PerfBench.median(xs)
}

/** Shared run state of the harness, including the count of operations
  * (recipe stages, queries, replays, output checks) attempted and the
  * failures among them. */
final class Ctx(val spark: SparkSession, val t: Tracer, val work: Path,
    val seed: Long) {
  var attempted = 0
  val failures: mutable.Buffer[String] = mutable.ArrayBuffer.empty[String]
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Runs one operation, which returns its wall seconds; a throw counts
    * as a failure. */
  def op(what: String)(body: => Double): Option[Double] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** Counts one output check. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) failures += s"$what: $detail".take(300)
  }
}

object Recipe {
  /** End of the generated log's 3-day window: 2026-01-01T00:00:00Z. A fixed
    * instant keeps the calendar days covered, and so the KPI groups,
    * independent of the wall clock. */
  val EndUtcSeconds: Long = 1767225600L

  def log(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    graft.gen.SyntheticBitacora.generate(spark, n = rows, seed = seed,
      days = 3, endUtcSeconds = Some(EndUtcSeconds))
}

object KpiRecipe {
  /** Rows of the generated log: enough that generation, KPI and report
    * outweigh the HTTP client's fixed 1.5 s retry backoff in a pass. */
  val Rows: Long = 200000L
}

/** The reference's four-stage recipe, each stage called as the CLI mains
  * call it: HTTP client → generated log → KPI CSV → HTML report. */
final class KpiRecipe(c: Ctx) extends Workload {
  import KpiRecipe.Rows
  import c.{spark, t}
  private val stub = new HttpStub
  private val dir = c.dir("recipe")
  private val jsonl = dir.resolve("datos_jsonl").toString
  private val kpiCsv = dir.resolve("kpi").toString
  private val html = dir.resolve("report.html")
  private var served = 0L

  private def stages(): Unit = {
    c.op("cliente_http") {
      t.call("sources", "sources.client_s", "cliente_http") {
        graft.cli.ClienteHttp.run(spark, stub.base, dir.resolve("http"))
      }
      t.lastSeconds
    }
    c.op("generar_datos") {
      t.call("gen", "gen.write_s", "generar_datos") {
        graft.gen.SyntheticBitacora.writeJsonl(
          Recipe.log(spark, Rows, c.seed), jsonl, singleFile = true)
      }
      t.lastSeconds
    }
    c.op("calcular_kpi") {
      t.call("ops", "ops.kpi_s", "calcular_kpi") {
        graft.ops.Kpi.writeKpiCsv(graft.ops.Kpi.bitacoraKpi(
          graft.ops.Kpi.readBitacora(spark, jsonl)), kpiCsv)
      }
      t.lastSeconds
    }
    c.op("generar_reporte") {
      t.call("report", "report.report_s", "generar_reporte") {
        graft.report.Report.writeReportArtifacts(
          graft.ops.Kpi.readKpiCsv(spark, kpiCsv), 300.0, html)
      }
      t.lastSeconds
    }
  }

  def warmup(): Unit = { stages(); served = stub.requests }

  def pass(): Unit = stages()

  override def passExtras(): Map[String, Double] = {
    val now = stub.requests
    val n = (now - served).toDouble
    served = now
    // the client's eight tasks, per request the stub served
    Map("sources.requests" -> n,
      "sources.useful_ratio" -> (if (n > 0) 8.0 / n else 0.0))
  }

  override def externalChecks: Seq[Map[String, Any]] = Seq(Map(
    "kind" -> "kpi_recipe", "jsonl" -> jsonl, "kpi_csv" -> kpiCsv,
    "report" -> html.toString, "rows" -> Rows))

  override def close(): Unit = stub.stop()
}

object KpiStream {
  /** Rows of the generated log; generating it is set-up. */
  val Rows: Long = 50000L
  /** Files the log is split into, replayed two per micro-batch. */
  val LogFiles: Int = 6
}

/** A generated log split into time-ordered JSONL files and replayed
  * through the streaming KPI, two files per micro-batch. */
final class KpiStream(c: Ctx) extends Workload {
  import c.{spark, t}
  import KpiStream.{LogFiles, Rows}
  private val logDir = c.dir("stream").resolve("log").toString
  private var passNo = 0
  private val checkTable = "perfbench_stream_check"

  private final class Progress extends StreamingQueryListener {
    val byRun = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[
        StreamingQueryListener.QueryProgressEvent]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      byRun.computeIfAbsent(e.progress.runId,
        _ => new java.util.concurrent.ConcurrentLinkedQueue()).add(e)
  }
  private val progress = new Progress
  private var lastRun: Option[java.util.UUID] = None

  override def setup(): Unit = {
    // the log sorted by time into `LogFiles` files, oldest first by mtime:
    // the order the file source reads them in
    t.call("gen", "gen.write_s", "generar_datos") {
      Recipe.log(spark, Rows, c.seed)
        .repartitionByRange(LogFiles, col("timestamp_utc"))
        .sortWithinPartitions(col("timestamp_utc"))
        .write.mode("overwrite").json(logDir)
    }
    val parts = Files.list(java.nio.file.Paths.get(logDir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    require(parts.size == LogFiles, s"expected $LogFiles log files, got ${parts.size}")
    val t0 = System.currentTimeMillis() - LogFiles * 1000L
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
    spark.streams.addListener(progress)
  }

  private def replay(sink: String, mode: String): java.util.UUID = {
    passNo += 1
    val ckpt = c.work.resolve(s"stream/ckpt-$passNo").toString
    val kpi = graft.streaming.StreamingKpi.kpiStream(
      graft.streaming.StreamingKpi.normalizedStream(
        spark.readStream.schema(graft.ops.Kpi.bitacoraSchema)
          .option("maxFilesPerTrigger", 2).json(logDir)))
    val w = kpi.writeStream.format(sink).outputMode(mode)
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt)
    val q = (if (sink == "memory") w.queryName(checkTable) else w).start()
    q.awaitTermination()
    q.runId
  }

  def warmup(): Unit = replay("memory", "complete")

  override def warmupPasses: Int = 2

  def pass(): Unit = {
    lastRun = None
    c.op("replay") {
      t.call("streaming", "streaming.replay_s", "replay") {
        lastRun = Some(replay("noop", "append"))
      }
      t.lastSeconds
    }
  }

  override def passExtras(): Map[String, Double] = {
    t.drain()
    val batches = lastRun.flatMap(r => Option(progress.byRun.get(r)))
      .map(_.asScala.toSeq.map(_.progress)).getOrElse(Nil)
    val last = batches.lastOption
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      last.map(_.stateOperators.map(f).sum).getOrElse(0L).toDouble
    val trigger = batches.map(_.durationMs.get("triggerExecution").longValue / 1e3)
    Map(
      "streaming.batch_p50_s" -> median(trigger),
      "streaming.add_batch_s" -> batches.map(p =>
        Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L))
        .sum / 1000.0,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.state_rows" -> stateSum(_.numRowsTotal),
      "streaming.state_mb" -> stateSum(_.memoryUsedBytes) / 1e6)
  }

  /** The untimed replay's per-window counts against the batch KPI's
    * counts over the same log. */
  override def check(): Unit = {
    val counts = Seq("requests_total", "success_2xx", "client_4xx",
      "server_5xx", "parse_errors")
    def rowsOf(df: DataFrame) = df
      .select((Seq("date_utc", "endpoint_base") ++ counts).map(col): _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    val stream = rowsOf(spark.table(checkTable))
    val batch = rowsOf(graft.ops.Kpi.bitacoraKpi(
      graft.ops.Kpi.readBitacora(spark, logDir)))
    c.check("stream window counts", stream == batch && batch.nonEmpty,
      s"stream ${(stream diff batch).take(3)} vs batch ${(batch diff stream).take(3)}")
  }

  override def close(): Unit = spark.streams.removeListener(progress)
}

object Catalog {
  /** The queries of one pass: PageRank's loop rounds over staged edges. */
  val Queries: Seq[String] = Seq("q94_copurchase_pagerank")
}

/** A list of catalog queries over generated tables, each written to the
  * `noop` sink; caches and operator memos are cleared before each pass. */
final class Catalog(c: Ctx, data: String) extends Workload {
  private val names = Catalog.Queries
  import c.{spark, t}
  private val byName = graft.Queries.registry.map(q => q.name -> q).toMap
  names.foreach(n => require(byName.contains(n), s"unknown query $n"))
  private val out = c.dir("catalog_out")
  private var zeroJob = 0
  private var lastSteps: Seq[Double] = Nil

  private def clear(): Unit = {
    spark.catalog.clearCache()
    graft.operators.LoopCache.clearMemo()
  }

  def warmup(): Unit = {
    clear()
    names.foreach { n =>
      c.op(n) {
        t.call("queries", s"warmup.$n", s"$n.warmup") {
          byName(n).fn(spark, data).coalesce(1).write.mode("overwrite")
            .parquet(out.resolve(n).toString)
        }
        t.lastSeconds
      }
    }
    val oracle = names.flatMap(n => byName(n).oracle.map(n -> _))
    Files.write(out.resolve("oracle_sql.json"),
      Json.obj(oracle).getBytes("UTF-8"))
  }

  def pass(): Unit = {
    clear()
    zeroJob = 0
    val steps = names.map { n =>
      val jobsBefore = jobs()
      val r = c.op(n) {
        val df = t.call("queries", "queries.build_s", s"$n.build") {
          byName(n).fn(spark, data)
        }
        val built = t.lastSeconds
        t.call("queries", "queries.run_s", s"$n.run") {
          df.write.format("noop").mode("overwrite").save()
        }
        built + t.lastSeconds
      }
      if (t.tracing && jobs() == jobsBefore) zeroJob += 1
      r
    }
    lastSteps = steps.flatten
  }

  private def jobs(): Long =
    if (!t.tracing) 0L
    else {
      t.drain()
      t.listener.snapshot().get("queries").map(_.jobs).getOrElse(0L)
    }

  override def passExtras(): Map[String, Double] =
    Map("queries.zero_job_ratio" -> zeroJob.toDouble / names.size,
      "queries.query_p50_s" -> median(lastSteps))

  override def externalChecks: Seq[Map[String, Any]] = Seq(Map(
    "kind" -> "oracle", "data" -> data, "out" -> out.toString,
    "queries" -> names.filter(byName(_).oracle.isDefined)))
}
