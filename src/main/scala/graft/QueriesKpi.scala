package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Kpi, Normalize}

/** KPI-family queries: the reference's stages [3]/[4]
  * (/root/reference/src/calcular_kpi.py, generar_reporte.py) mapped onto the
  * driver's `events` table, which stands in for the bitácora at scale
  * (FIXTURES.md §4). The mapping derives a bitácora-shaped log from events:
  *
  *   timestamp_utc = ts formatted yyyy-MM-dd'T'HH:mm:ss'Z'
  *   endpoint      = '/<event_type>?k=<k>'   (k = props JSON field)
  *   status_code   = k<88 → 200 | k<96 → 400 | else 500   (mimics the
  *                   reference generator's 88/8/4 mix, generar_datos.py:36-42)
  *   elapsed_ms    = value
  *   parse_result  = k%20==0 → "error" (5%) else "ok" (generar_datos.py:45-47)
  *
  * The Spark side runs the REAL pipeline (string-typed scan → lenient casts →
  * normalization → aggregate); the oracle SQL states the equivalent semantics
  * directly.
  */
object QueriesKpi {

  /** The derived bitácora (string-typed, like the reference's JSONL scan).
    * Rebalanced before the JSON-parse/format projection: everything
    * downstream to the KPI aggregate's partial side is per-row compute
    * (JSON path eval, timestamp parse+reformat, lenient casts), which a
    * coarse single-row-group scan would otherwise serialize on one core
    * (see Tables.rebalance — a no-op on real multi-file inputs). */
  private def bitacoraFromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.rebalance(
      Tables.events(spark, sfDir)
        .select(col("ts"), col("event_type"), col("props"), col("value")))
    val k = get_json_object(col("props"), "$.k").cast("int")
    ev.select(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("timestamp_utc"),
      concat(lit("/"), col("event_type"), lit("?k="), k).as("endpoint"),
      when(k < 88, 200).when(k < 96, 400).otherwise(500)
        .cast("string").as("status_code"),
      col("value").cast("string").as("elapsed_ms"),
      when(k % 20 === 0, "error").otherwise("ok").as("parse_result"))
  }

  /** SQL CTE shared by the KPI-family oracles (DuckDB dialect).
    *
    * p90 replays Spark's builtin `percentile` arithmetic verbatim
    * (OracleSql.percentileSql: duplicate short-circuit, else the
    * integer-anchored `(ceil(pos)−pos)·a + (pos−floor(pos))·b`) instead
    * of `quantile_cont` (fraction-anchored `(1−t)·a + t·b`): the pair is
    * bit-identical on the sf0.01/sf0.1/sf1 group sizes but diverged by
    * 1 ULP at the sf10 replica's 74k-row groups (r17 — a == b == 112.77,
    * t ≈ 0.1: Spark's short-circuit returns exactly a, quantile_cont
    * rounds to 112.77000000000001). */
  private val kpiCte: String =
    s"""WITH b AS (
      |  SELECT CAST(ts AS DATE) AS date_utc,
      |         '/' || event_type AS endpoint_base,
      |         CAST(json_extract_string(props, '$$.k') AS INT) AS k,
      |         value
      |  FROM events
      |), kpiv AS (
      |  SELECT date_utc, endpoint_base,
      |         count(*) AS requests_total,
      |         count(*) FILTER (WHERE k < 88) AS success_2xx,
      |         count(*) FILTER (WHERE k >= 88 AND k < 96) AS client_4xx,
      |         count(*) FILTER (WHERE k >= 96) AS server_5xx,
      |         count(*) FILTER (WHERE k % 20 = 0) AS parse_errors,
      |         CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) / count(*) AS avg_elapsed_ms,
      |         ${OracleSql.sortedListSql("value")} AS lv
      |  FROM b GROUP BY 1, 2
      |), kpi AS (
      |  SELECT date_utc, endpoint_base, requests_total, success_2xx,
      |         client_4xx, server_5xx, parse_errors, avg_elapsed_ms,
      |         ${OracleSql.percentileSql("lv", "0.9")} AS p90_elapsed_ms
      |  FROM kpiv
      |)""".stripMargin

  /** q01 — the core KPI query (S1,P1-P8,A1-A6,O1). Cross-engine-exact output
    * (see Kpi.aggregate): unrounded, bit-stable doubles for the hash gate. */
  def kpiDaily(spark: SparkSession, sfDir: String): DataFrame =
    Kpi.bitacoraKpi(bitacoraFromEvents(spark, sfDir), crossEngineExact = true)

  /** Staged stage-[3] output for the stage-[4] consumers (q03/q04/q57).
    *
    * The reference hands the KPI table between stages as a FILE
    * (calcular_kpi.py writes the CSV once; generar_reporte.py:262 reads
    * it back — stage [4] never recomputes stage [3]). This memo is that
    * handoff in-session: the first stage-[4] query materializes the KPI
    * table (~|dates|x|endpoints| rows — KB-sized at any SF) in a lazy
    * pin; later ones reuse it. At cluster scale the staging becomes a
    * parquet write (CorpusLayout) with identical semantics; correctness
    * is unaffected (the oracle recomputes the CTE from scratch either
    * way). Keyed per (session, sfDir) in the operator memo, so
    * `LoopCache.clearMemo` drops it with the pins `clearCache` released,
    * and the next stage-[4] query pins the KPI again. Contract: the input
    * dir is immutable for the memo's lifetime (the same assumption any
    * staged file handoff makes — rewriting the inputs requires a
    * `clearMemo`, exactly as it would require re-running the staging
    * job). */
  private def kpiStaged(spark: SparkSession, sfDir: String): DataFrame =
    // lazy pin + reRoot, not localCheckpoint: the memoized frame lives
    // until the next clearMemo, and a cut-lineage checkpoint would fail
    // every later stage-[4] query if an executor dropped the blocks
    // (r13); the pinned plan recomputes instead
    graft.operators.LoopCache.memo(Seq("kpi_staged", spark, sfDir))(
      org.apache.spark.sql.graftbridge.SqlBridge.reRoot(
        kpiDaily(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))

  val kpiDailySql: String =
    s"$kpiCte SELECT * FROM kpi ORDER BY date_utc, endpoint_base"

  /** q02 — direct JSON-field bucket counts (P7, P14, A3). */
  def jsonBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val k = get_json_object(col("props"), "$.k").cast("int")
    ev.select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("requests_total"),
        count_if(col("k") <= 24).as("k_low"),
        count_if(col("k").between(25, 74)).as("k_mid"),
        count_if(col("k") >= 75).as("k_high"))
      .orderBy(col("event_type"))
  }

  val jsonBucketsSql: String =
    """SELECT event_type,
      |       count(*) AS requests_total,
      |       count(*) FILTER (WHERE k <= 24) AS k_low,
      |       count(*) FILTER (WHERE k BETWEEN 25 AND 74) AS k_mid,
      |       count(*) FILTER (WHERE k >= 75) AS k_high
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS INT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q03 — stage-[4] per-endpoint re-aggregation (A9, A10, P9, O2): weighted
    * means over the KPI table (generar_reporte.py:40-68). The weighted means
    * go through exact DECIMAL(16,6) intermediates so the output doubles are
    * independent of cross-engine summation order (both engines round the
    * same input double to the same 6-dp decimal, then sum exactly; the scaled sum stays below 2^53 so the decimal->double cast is exact in both engines). */
  def reportEndpoint(spark: SparkSession, sfDir: String): DataFrame = {
    val kpi = kpiStaged(spark, sfDir)
    val w = col("requests_total")
    // DECIMAL(12,0) for the weight: a (date,endpoint) group can exceed 10^8
    // rows at large SF, which would overflow a DECIMAL(8,0) weight under
    // ANSI mode;
    // 10^12 rows per group is beyond the design point and the scaled sum
    // still stays below 2^53 for exact decimal->double
    def weighted(c: Column): Column =
      (sum(c.cast("decimal(16,6)") * w.cast("decimal(12,0)")).cast("double")
        / greatest(sum(w), lit(1L)).cast("double"))
    kpi.groupBy(col("endpoint_base"))
      .agg(
        sum(w).as("requests_total"),
        sum(col("success_2xx")).as("success_2xx"),
        sum(col("client_4xx")).as("client_4xx"),
        sum(col("server_5xx")).as("server_5xx"),
        sum(col("parse_errors")).as("parse_errors"),
        weighted(col("avg_elapsed_ms")).as("avg_elapsed_ms"),
        weighted(col("p90_elapsed_ms")).as("p90_elapsed_ms"))
      .select(
        col("endpoint_base"), col("requests_total"), col("success_2xx"),
        col("client_4xx"), col("server_5xx"), col("parse_errors"),
        col("avg_elapsed_ms"), col("p90_elapsed_ms"),
        (col("success_2xx") * lit(100.0) / col("requests_total")).as("pct_2xx"),
        ((col("client_4xx") + col("server_5xx")) * lit(100.0) / col("requests_total")).as("pct_err"))
      .orderBy(col("requests_total").desc, col("endpoint_base"))
  }

  val reportEndpointSql: String =
    s"""$kpiCte
      |SELECT endpoint_base,
      |       CAST(sum(requests_total) AS BIGINT) AS requests_total,
      |       CAST(sum(success_2xx) AS BIGINT) AS success_2xx,
      |       CAST(sum(client_4xx) AS BIGINT) AS client_4xx,
      |       CAST(sum(server_5xx) AS BIGINT) AS server_5xx,
      |       CAST(sum(parse_errors) AS BIGINT) AS parse_errors,
      |       CAST(sum(CAST(CAST(avg_elapsed_ms AS VARCHAR) AS DECIMAL(16,6)) * CAST(requests_total AS DECIMAL(12,0))) AS DOUBLE)
      |         / CAST(greatest(sum(requests_total), 1) AS DOUBLE) AS avg_elapsed_ms,
      |       CAST(sum(CAST(CAST(p90_elapsed_ms AS VARCHAR) AS DECIMAL(16,6)) * CAST(requests_total AS DECIMAL(12,0))) AS DOUBLE)
      |         / CAST(greatest(sum(requests_total), 1) AS DOUBLE) AS p90_elapsed_ms,
      |       CAST(sum(success_2xx) AS DOUBLE) * 100.0 / CAST(sum(requests_total) AS DOUBLE) AS pct_2xx,
      |       CAST(sum(client_4xx + server_5xx) AS DOUBLE) * 100.0 / CAST(sum(requests_total) AS DOUBLE) AS pct_err
      |FROM kpi GROUP BY endpoint_base
      |ORDER BY requests_total DESC, endpoint_base""".stripMargin

  /** q04 — stage-[4] global metrics (A7, A8, P9): whole-table sums and the
    * documented p90-of-p90 approximation (generar_reporte.py:19-31). */
  def reportGlobal(spark: SparkSession, sfDir: String): DataFrame = {
    val kpi = kpiStaged(spark, sfDir)
    kpi.agg(
        sum(col("requests_total")).as("total_requests"),
        sum(col("success_2xx")).as("total_2xx"),
        sum(col("client_4xx") + col("server_5xx")).as("total_err"),
        percentile(col("p90_elapsed_ms"), lit(0.9)).as("p90_global"))
      .select(
        col("total_requests"),
        when(col("total_requests") > 0,
          col("total_2xx") * lit(100.0) / col("total_requests"))
          .otherwise(0.0).as("pct_2xx"),
        when(col("total_requests") > 0,
          col("total_err") * lit(100.0) / col("total_requests"))
          .otherwise(0.0).as("pct_err"),
        col("p90_global").as("p90_of_p90"))
  }

  val reportGlobalSql: String =
    s"""$kpiCte
      |SELECT CAST(sum(requests_total) AS BIGINT) AS total_requests,
      |       CASE WHEN sum(requests_total) > 0
      |            THEN CAST(sum(success_2xx) AS DOUBLE) * 100.0 / CAST(sum(requests_total) AS DOUBLE)
      |            ELSE 0.0 END AS pct_2xx,
      |       CASE WHEN sum(requests_total) > 0
      |            THEN CAST(sum(client_4xx + server_5xx) AS DOUBLE) * 100.0 / CAST(sum(requests_total) AS DOUBLE)
      |            ELSE 0.0 END AS pct_err,
      |       ${OracleSql.percentileSql(
                 OracleSql.sortedListSql("p90_elapsed_ms"), "0.9")}
      |         AS p90_of_p90
      |FROM kpi""".stripMargin

  /** q57 — exact global p90 from the RAW data, next to the reference's
    * documented p90-of-p90 approximation (A8, generar_reporte.py:29-30
    * "sin raw no hay exacto global") — the extension SURVEY §2.4 A8 notes:
    * with the raw log available the engine CAN compute the true global
    * percentile, and exposing both quantifies the approximation's error. */
  def globalP90Exact(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val kpi = kpiStaged(spark, sfDir)
    val exact = ev.agg(percentile(col("value"), lit(0.9)).as("p90_exact"))
    val approx = kpi.agg(
      percentile(col("p90_elapsed_ms"), lit(0.9)).as("p90_of_p90"))
    exact.crossJoin(approx)
      .select(col("p90_exact"), col("p90_of_p90"),
        (col("p90_of_p90") - col("p90_exact")).as("approx_error"))
  }

  val globalP90ExactSql: String =
    s"""$kpiCte, e AS (
      |  SELECT ${OracleSql.percentileSql(
                   OracleSql.sortedListSql("value"), "0.9")} AS p90_exact
      |  FROM events),
      |a AS (
      |  SELECT ${OracleSql.percentileSql(
                   OracleSql.sortedListSql("p90_elapsed_ms"), "0.9")}
      |    AS p90_of_p90
      |  FROM kpi)
      |SELECT p90_exact, p90_of_p90, p90_of_p90 - p90_exact AS approx_error
      |FROM e CROSS JOIN a""".stripMargin

  /** q05 — endpoint normalization contract (P3), table-driven over synthetic
    * raw endpoints built from events (README.md:154-162 cases). */
  def normalizeEndpoints(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val k = get_json_object(col("props"), "$.k").cast("int")
    val raw = when(k % 5 === 0, concat(lit("/status/"), k))
      .when(k % 5 === 1, concat(lit("/basic-auth/u"), k, lit("/p")))
      .when(k % 5 === 2, concat(lit("/get?x="), k))
      .when(k % 5 === 3, lit("/redirect-to?url=/get"))
      .otherwise(concat(lit("/"), col("event_type")))
    ev.select(raw.as("endpoint_raw"))
      .select(col("endpoint_raw"),
        Normalize.endpointBase(col("endpoint_raw")).as("endpoint_base"))
      .distinct()
      .orderBy(col("endpoint_raw"), col("endpoint_base"))
  }

  val normalizeEndpointsSql: String =
    """WITH k AS (
      |  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, event_type
      |  FROM events
      |), e AS (
      |  SELECT CASE
      |           WHEN k % 5 = 0 THEN '/status/' || k
      |           WHEN k % 5 = 1 THEN '/basic-auth/u' || k || '/p'
      |           WHEN k % 5 = 2 THEN '/get?x=' || k
      |           WHEN k % 5 = 3 THEN '/redirect-to?url=/get'
      |           ELSE '/' || event_type
      |         END AS endpoint_raw
      |  FROM k
      |)
      |SELECT DISTINCT endpoint_raw,
      |       CASE WHEN split_part(endpoint_raw, '?', 1) LIKE '/status/%' THEN '/status'
      |            WHEN split_part(endpoint_raw, '?', 1) LIKE '/basic-auth/%' THEN '/basic-auth'
      |            ELSE split_part(endpoint_raw, '?', 1) END AS endpoint_base
      |FROM e ORDER BY endpoint_raw, endpoint_base""".stripMargin
}
