package graft.report

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import graft.functions.PyRoundExpression.pyRound

/** Stage [4] — the reporting query + HTML sink
  * (/root/reference/src/generar_reporte.py), reference-faithful tier:
  * rounded half-even 2dp like the CSV contract (unlike the oracle-exact
  * variants in QueriesKpi, which skip rounding for cross-engine hashing).
  *
  * The aggregations run in Spark over the KPI table, in one partition
  * (it holds one row per day and endpoint); only the final ≤#endpoints
  * rows cross the driver boundary at render time (generar_reporte.py:263-275
  * note in SURVEY §3.2).
  */
object Report {

  /** A7/A8/P9 — global metric card values (generar_reporte.py:19-31). */
  def globalMetrics(kpi: DataFrame): DataFrame =
    kpi.agg(
        sum(col("requests_total")).as("total_requests"),
        sum(col("success_2xx")).as("total_2xx"),
        sum(col("client_4xx") + col("server_5xx")).as("total_err"),
        percentile(col("p90_elapsed_ms"), lit(0.9)).as("p90_raw"))
      .select(
        col("total_requests"),
        when(col("total_requests") > 0,
          pyRound(col("total_2xx") * lit(100.0) / col("total_requests"), 2))
          .otherwise(0.0).as("pct_2xx"),
        when(col("total_requests") > 0,
          pyRound(col("total_err") * lit(100.0) / col("total_requests"), 2))
          .otherwise(0.0).as("pct_err"),
        pyRound(col("p90_raw"), 2).as("p90_global_aprox"))

  /** A9/A10/P9/P10/P11/O2 — per-endpoint table with weighted means, percent
    * columns, and the alerta_p90 threshold flag (generar_reporte.py:34-68,
    * 178). */
  def endpointTable(kpi: DataFrame, umbralP90: Double): DataFrame = {
    val w = col("requests_total")
    kpi.groupBy(col("endpoint_base"))
      .agg(
        sum(w).as("requests_total"),
        sum(col("success_2xx")).as("success_2xx"),
        sum(col("client_4xx")).as("client_4xx"),
        sum(col("server_5xx")).as("server_5xx"),
        sum(col("parse_errors")).as("parse_errors"),
        (sum(col("avg_elapsed_ms") * w) / greatest(sum(w), lit(1L))).as("avg_w"),
        (sum(col("p90_elapsed_ms") * w) / greatest(sum(w), lit(1L))).as("p90_w"))
      .select(
        col("endpoint_base"), col("requests_total"), col("success_2xx"),
        col("client_4xx"), col("server_5xx"), col("parse_errors"),
        pyRound(col("avg_w"), 2).as("avg_elapsed_ms"),
        pyRound(col("p90_w"), 2).as("p90_elapsed_ms"),
        pyRound(col("success_2xx") * lit(100.0) / col("requests_total"), 2).as("pct_2xx"),
        pyRound((col("client_4xx") + col("server_5xx")) * lit(100.0) / col("requests_total"), 2).as("pct_err"),
        when(pyRound(col("p90_w"), 2) > umbralP90, "SI").otherwise("NO").as("alerta_p90"))
      .orderBy(col("requests_total").desc, col("endpoint_base"))
  }

  /** K6 — HTML report: metric cards, per-endpoint table with alerta rows
    * painted red by embedded JS, and inline JSON chart data. With
    * `withImages=true` the page also embeds the two K5 chart PNGs by
    * basename, exactly like the reference's render_html
    * (generar_reporte.py:223-226); [[writeReportArtifacts]] writes them. */
  def renderHtml(global: Row, endpoints: Seq[Row], umbralP90: Double,
                 withImages: Boolean = false): String = {
    def fmt(d: Double): String = f"$d%.2f"
    val cards =
      s"""<div class="cards">
         |<div class="card"><h3>Total requests</h3><p>${global.getAs[Long]("total_requests")}</p></div>
         |<div class="card"><h3>% 2xx</h3><p>${fmt(global.getAs[Double]("pct_2xx"))}%</p></div>
         |<div class="card"><h3>% error</h3><p>${fmt(global.getAs[Double]("pct_err"))}%</p></div>
         |<div class="card"><h3>p90 global (aprox)</h3><p>${fmt(global.getAs[Double]("p90_global_aprox"))} ms</p></div>
         |</div>""".stripMargin
    // endpoint_base is arbitrary log input: escape it in the HTML cells too
    // (the reference renders it with to_html(escape=False), but there is no
    // reason to reproduce an injection hole — alerta_p90 is engine-generated
    // SI/NO yet goes through the same escape for uniformity)
    def htmlEsc(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c   => c.toString
    }
    val rows = endpoints.map { r =>
      s"""<tr data-alerta="${htmlEsc(r.getAs[String]("alerta_p90"))}">
         |<td>${htmlEsc(r.getAs[String]("endpoint_base"))}</td>
         |<td>${r.getAs[Long]("requests_total")}</td>
         |<td>${fmt(r.getAs[Double]("pct_2xx"))}</td>
         |<td>${fmt(r.getAs[Double]("pct_err"))}</td>
         |<td>${fmt(r.getAs[Double]("avg_elapsed_ms"))}</td>
         |<td>${fmt(r.getAs[Double]("p90_elapsed_ms"))}</td>
         |<td>${htmlEsc(r.getAs[String]("alerta_p90"))}</td>
         |</tr>""".stripMargin
    }.mkString("\n")
    // endpoint_base is arbitrary log input: escape for the JSON string AND
    // for the surrounding <script> element ('</' would close it)
    def jsonStr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '/'  => "\\/"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val chartData = endpoints.map(r =>
      s"""{"endpoint":${jsonStr(r.getAs[String]("endpoint_base"))},"requests":${r.getAs[Long]("requests_total")},"p90":${r.getAs[Double]("p90_elapsed_ms")}}""")
      .mkString("[", ",", "]")
    val images =
      if (!withImages) ""
      else s"""<h2>Graficos</h2>
              |<img src="$RequestsPngName" alt="requests_total" />
              |<img src="$P90PngName" alt="p90_elapsed_ms" />""".stripMargin
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>KPI diario</title>
       |<style>
       |body{font-family:sans-serif;margin:2em}
       |.cards{display:flex;gap:1em}
       |.card{border:1px solid #ccc;border-radius:8px;padding:1em;flex:1}
       |table{border-collapse:collapse;margin-top:2em;width:100%}
       |td,th{border:1px solid #ddd;padding:6px 10px;text-align:right}
       |td:first-child{text-align:left}
       |tr.alerta{background:#ffe0e0}
       |</style></head><body>
       |<h1>Reporte KPI diario</h1>
       |$cards
       |<table><thead><tr><th>endpoint</th><th>requests</th><th>% 2xx</th>
       |<th>% err</th><th>avg ms</th><th>p90 ms</th><th>alerta p90 &gt; $umbralP90</th></tr></thead>
       |<tbody>
       |$rows
       |</tbody></table>
       |$images
       |<script id="chart-data" type="application/json">$chartData</script>
       |<script>
       |// paint alerta rows red, like the reference's embedded JS
       |// (generar_reporte.py:224-233)
       |document.querySelectorAll('tr[data-alerta="SI"]')
       |  .forEach(function(tr){ tr.classList.add('alerta'); });
       |</script>
       |</body></html>""".stripMargin
  }

  /** The card values and the endpoint table, collected. The KPI table
    * has one row per day and endpoint, so both aggregates run over ONE
    * partition ([[SqlBridge.singlePartition]]): it satisfies the
    * group-by, the global aggregate and the sort, which then need no
    * exchange, and each collect is a single job. */
  private def collectTables(kpi: DataFrame, umbralP90: Double): (Row, Seq[Row]) = {
    val one = SqlBridge.singlePartition(kpi)
    (globalMetrics(one).collect().head, endpointTable(one, umbralP90).collect().toSeq)
  }

  /** End-to-end stage [4]: KPI table → HTML string (driver-side render over
    * the collected ≤#endpoints rows). */
  def buildReport(kpi: DataFrame, umbralP90: Double): String = {
    val (g, e) = collectTables(kpi, umbralP90)
    renderHtml(g, e, umbralP90)
  }

  /** The reference's fixed chart basenames (generar_reporte.py:269-270). */
  val RequestsPngName = "requests_por_endpoint.png"
  val P90PngName = "p90_por_endpoint.png"

  /** Full stage-[4] artifact set, matching the reference file-for-file:
    * the HTML at `outHtml` plus the two K5 chart PNGs written into the
    * HTML's directory under the reference's basenames
    * (generar_reporte.py:263-292). One collect feeds table and charts. */
  def writeReportArtifacts(kpi: DataFrame, umbralP90: Double,
                           outHtml: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    val (g, e) = collectTables(kpi, umbralP90)
    val dir = Option(outHtml.toAbsolutePath.getParent).get
    Files.createDirectories(dir)
    Charts.plotRequests(
      e.map(_.getAs[String]("endpoint_base")),
      e.map(_.getAs[Long]("requests_total")),
      dir.resolve(RequestsPngName))
    Charts.plotP90(
      e.map(_.getAs[String]("endpoint_base")),
      e.map(_.getAs[Double]("p90_elapsed_ms")),
      dir.resolve(P90PngName))
    Files.writeString(outHtml, renderHtml(g, e, umbralP90, withImages = true))
    ()
  }
}
