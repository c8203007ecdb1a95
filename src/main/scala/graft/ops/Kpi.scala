package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's core query (stage [3], /root/reference/src/calcular_kpi.py):
  * bitácora log → daily per-endpoint KPI table.
  *
  * Logical plan (one shuffle):
  *   scan → null-guard filter (P1) → key derivation (P2/P3) + lenient casts
  *   (P4-P6) → hash aggregate A1-A6 (partial+final around an Exchange on the
  *   group key) → py_round 2dp (P11, CPython-identical half-even).
  * The returned frame is unsorted. The sort (O1) belongs to the output
  * that promises order: the single-CSV sink ([[writeKpiCsv]]) sorts
  * inside its one output task, and q01 ([[graft.QueriesKpi.kpiDaily]])
  * ends in its own `orderBy`. Consumers that re-aggregate the table pay
  * no range exchange and no sampling job for an order they discard.
  *
  * Scale notes: the p90 is the only aggregate whose buffer grows with its
  * group. Both tiers keep each group's values (the faithful tier a
  * scan-order list, `crossEngineExact` the `Percentile` value counts), the
  * same cost shape as the reference's per-group `elapsed` list
  * (calcular_kpi.py:15,24); everything else is a fixed-size partial agg.
  * The stream ([[graft.streaming.StreamingKpi]]) runs the same group body
  * on the `crossEngineExact` tier and keeps that buffer in its state store
  * until the watermark closes the day.
  */
object Kpi {

  /** Input contract of the reference's JSONL scan (S1): all fields read as
    * strings, coerced leniently downstream (calcular_kpi.py:90-114). */
  val bitacoraSchema: StructType = StructType(Seq(
    StructField("timestamp_utc", StringType),
    StructField("endpoint", StringType),
    StructField("status_code", StringType),
    StructField("elapsed_ms", StringType),
    StructField("parse_result", StringType)))

  /** Output contract (K2): fixed 9-column order, calcular_kpi.py:124-134. */
  val kpiColumns: Seq[String] = Seq(
    "date_utc", "endpoint_base", "requests_total", "success_2xx",
    "client_4xx", "server_5xx", "parse_errors", "avg_elapsed_ms",
    "p90_elapsed_ms")

  /** S1 — JSONL scan with the reference's abort-on-malformed-line contract
    * (calcular_kpi.py:80-83): FAILFAST fails the job on any unparseable line;
    * blank lines are skipped by Spark's JSON reader. */
  def readBitacora(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(bitacoraSchema).option("mode", "FAILFAST").json(path)

  /** P2 — strict timestamp→date projection: a non-null value that does not
    * match the reference's format aborts the job, like calcular_kpi.py:52
    * (strptime raise). */
  def dateUtc(tsString: Column): Column = strictTimestamp(tsString, to_date(_))

  /** P2 for the stream: the same strict parse, keeping the instant. */
  private[graft] def eventTime(tsString: Column): Column = strictTimestamp(tsString, identity)

  private def strictTimestamp(tsString: Column, as: Column => Column): Column = {
    val parsed = as(try_to_timestamp(tsString, lit("yyyy-MM-dd'T'HH:mm:ss'Z'")))
    // `parsed` appears once: a CaseWhen testing `parsed.isNull` and then
    // returning `parsed` parses every timestamp twice (the branch copy is
    // not eliminated); coalesce evaluates the raise only on a null parse
    coalesce(parsed, when(tsString.isNotNull,
      raise_error(concat(lit("timestamp_utc does not match yyyy-MM-ddTHH:mm:ssZ: "), tsString))))
  }

  /** P1+P2+P3+P4-P6 — the normalized projection feeding the aggregate. */
  def normalized(bitacora: DataFrame): DataFrame =
    normalizedWith(bitacora, dateUtc(col("timestamp_utc")).as("date_utc"))

  /** The normalized projection with `time`, the row's strictly parsed
    * timestamp_utc, as its first column: the batch's `date_utc`
    * ([[dateUtc]]) or the stream's `event_time` ([[eventTime]]). */
  private[graft] def normalizedWith(bitacora: DataFrame, time: Column): DataFrame = {
    val f = bitacora
      .filter(col("timestamp_utc").isNotNull && col("endpoint").isNotNull)
    val anyCastFailed =
      Normalize.castFailed(col("status_code"), "int") ||
      Normalize.castFailed(col("elapsed_ms"), "double")
    f.select(
      time,
      Normalize.endpointBase(col("endpoint")).as("endpoint_base"),
      Normalize.lenientInt(col("status_code")).as("status_code"),
      Normalize.lenientDouble(col("elapsed_ms")).as("elapsed_ms"),
      Normalize.effectiveParseResult(col("parse_result"), anyCastFailed).as("parse_result"))
  }

  /** A1-A6 + P7/P8 + P11 — the KPI aggregation over a normalized log
    * with columns (date_utc, endpoint_base, status_code, elapsed_ms,
    * parse_result). Exact p90 is linear interpolation at position
    * (n−1)·0.9, but WHICH lerp depends on the mode, because the two
    * ground truths differ at the last ULP (see
    * [[graft.functions.NpPercentile]]): np.percentile (the reference,
    * calcular_kpi.py:39-44) branches its formula at t ≥ 0.5, while
    * Spark's builtin `Percentile` and DuckDB's `quantile_cont` share the
    * two-product form — and a 1-ULP difference flips `py_round` exactly
    * on 2-decimal midpoints (caught live by the parity gate).
    *
    * Two output modes:
    *  - faithful (default): reference contract — avg replayed with
    *    np.mean's pairwise sum and p90 with numpy's exact lerp, both over
    *    the group's values in scan order, and both rounded to 2 dp with
    *    CPython's exact-binary half-even (`py_round`, P11). Batch only:
    *    its scan-order key does not survive micro-batch boundaries.
    *  - crossEngineExact: no rounding; avg is computed from an exact
    *    DECIMAL(38,2) sum (elapsed values are 2-dp by contract; each is
    *    rounded to cents first) divided in double, and p90 is the builtin
    *    `Percentile` — bit-identical to
    *    DuckDB's quantile_cont (verified empirically), which the driver's
    *    hash-compare gate needs.
    *    (DuckDB's round_even on DOUBLE misrounds near ties, and double sums
    *    are order-dependent, so rounded outputs can NOT be made portable.)
    *    Neither aggregate depends on input order, so it is also the tier
    *    the stream serves, exact across any split into micro-batches.
    *    Its one limit: an `elapsed_ms` of 1e36 or more, or a group sum
    *    that reaches 1e36, overflows DECIMAL(38,2) and aborts the query
    *    under ANSI (the faithful tier and the reference accept it).
    */
  def aggregate(normalized: DataFrame, crossEngineExact: Boolean = false): DataFrame =
    aggregateBy(normalized, col("date_utc"), col("date_utc"), crossEngineExact)

  /** O1 — the reference's row order, by day then endpoint
    * (calcular_kpi.py:136). */
  val kpiOrder: Seq[Column] = Seq(col("date_utc"), col("endpoint_base"))

  /** The KPI group body of [[aggregate]], shared by batch and stream: the
    * seven aggregates per (`day`, endpoint_base) group, projected to the
    * 9 KPI columns with `date` (an expression over `day`, named
    * date_utc) first. */
  private[graft] def aggregateBy(
      normalized: DataFrame, day: Column, date: Column,
      crossEngineExact: Boolean): DataFrame = {
    // (aggregate expression, post-aggregation transform) — the faithful
    // tier buffers the group's values IN SCAN ORDER (the reference's
    // per-group elapsed lists) and both final aggregates replay numpy on
    // that buffer after the agg: p90 sorts then `_lerp`-interpolates,
    // avg replays np.mean's pairwise summation.
    //
    // SCAN ORDER is enforced, not assumed (ADVICE r13): collect_list
    // concatenates partial buffers in shuffle-FETCH order, which is
    // nondeterministic once the input splits — and np.mean's pairwise
    // sum is order-dependent at the ulp, exactly what decides py_round
    // on a 2-dp-midpoint cent. Each row therefore carries a stable
    // file-order key `(input_file_name, input_file_block_start,
    // monotonically_increasing_id)`: within one scan partition mono-id
    // ascends in scan order, across partitions (file, block_start)
    // reconstructs file order regardless of Spark's size-descending
    // split packing, and for non-file inputs (specs) name=""/start=-1
    // degrade the key to mono-id = original partition order. Sorting
    // the buffer by that key replays the reference's sequential-reader
    // order deterministically. Cost: faithful tier only (the
    // crossEngineExact tier carries no scan key), one struct
    // per buffered value plus an in-memory per-group sort the p90
    // already pays anyway.
    val faithful = !crossEngineExact
    // flat struct, key fields FIRST: sort_array orders structs
    // lexicographically by field position, so (f, b, i, v) sorts by the
    // scan key with the value along for the ride
    val scanKv = struct(
      input_file_name().as("f"), input_file_block_start().as("b"),
      monotonically_increasing_id().as("i"), col("elapsed_ms").as("v"))
    val valueOf: Column => Column = x => x.getField("v")
    val (p90Agg, p90Post): (Column, Column => Column) =
      if (crossEngineExact)
        (percentile(col("elapsed_ms"), lit(0.9)), identity)
      else
        // sorted ONCE, in the aggregate's result projection: `ofSorted`
        // repeats its argument about 15 times, and every copy of an inline
        // sort_array(transform(..)) gets fresh lambda-variable ids, so
        // subexpression elimination would never merge them
        (sort_array(transform(collect_list(col("_scan_kv")), valueOf)),
          c => graft.functions.NpPercentile.ofSorted(c, 0.9))
    // Mean tiers. crossEngineExact: exact DECIMAL(38,2) sum (elapsed is
    // 2-dp by contract) divided once in double — the correctly-rounded
    // true mean, which DuckDB replays for the hash-portable oracle gate.
    // Faithful tier: np.mean's pairwise summation over the same scan-
    // order buffer the p90 uses (NpMeanExpression) — numpy's sum is
    // usually the correctly-rounded value too, but NOT always, and when
    // a group's true mean lands exactly on a 2-dp midpoint the one-ulp
    // accumulation error decides the printed cent (caught live by the
    // parity gate, round 13: exact mean 373.045, np.mean
    // 373.04499999999996 → ref 373.04, exact-sum path 373.05). A plain
    // double avg() is wrong for BOTH tiers: naive left-fold error plus
    // partition-order nondeterminism (round-5 parity catch, 359.705…).
    // The faithful tier's avg aggregates the SAME collect_list expression
    // as the p90 — Catalyst dedups identical aggregate expressions, so
    // there is ONE physical buffer per group feeding both replays: the
    // p90 sorts it by VALUE, the avg by the scan-order key.
    val (avgAgg, avgPost): (Column, Column => Column) =
      if (faithful)
        (collect_list(col("_scan_kv")),
          c => graft.functions.NpMeanExpression.npMean(
            transform(sort_array(c), valueOf)))
      else
        (sum(col("elapsed_ms").cast("decimal(38,2)")).cast("double") /
          count(lit(1)), identity)
    // py_round, not bround: Python rounds the exact binary double, bround
    // rounds its shortest decimal repr — they disagree on values like
    // 696.515 (see PyRoundExpression scaladoc; caught by the parity gate)
    val round2: Column => Column =
      if (crossEngineExact) identity
      else (c => graft.functions.PyRoundExpression.pyRound(c, 2))
    // mono-id is nondeterministic-flagged, so the key is materialized in
    // a Project BEFORE the aggregate (Catalyst rejects it inside agg
    // arguments); the extra column exists only in the faithful tier
    val input =
      if (faithful) normalized.withColumn("_scan_kv", scanKv) else normalized
    input
      .groupBy(day, col("endpoint_base"))
      .agg(
        count(lit(1)).as("requests_total"),
        count_if(col("status_code").between(200, 299)).as("success_2xx"),
        count_if(col("status_code").between(400, 499)).as("client_4xx"),
        count_if(col("status_code").between(500, 599)).as("server_5xx"),
        count_if(col("parse_result") =!= "ok").as("parse_errors"),
        avgAgg.as("avg_raw"),
        p90Agg.as("p90_raw"))
      .select(
        date, col("endpoint_base"), col("requests_total"),
        col("success_2xx"), col("client_4xx"), col("server_5xx"),
        col("parse_errors"),
        round2(avgPost(col("avg_raw"))).as("avg_elapsed_ms"),
        round2(p90Post(col("p90_raw"))).as("p90_elapsed_ms"))
  }

  /** End-to-end reference query: raw bitácora → KPI table, unsorted. */
  def bitacoraKpi(bitacora: DataFrame, crossEngineExact: Boolean = false): DataFrame =
    aggregate(normalized(bitacora), crossEngineExact)

  /** Output schema of the KPI CSV (explicit — never inferred, SURVEY §1.3). */
  val kpiSchema: StructType = StructType(Seq(
    StructField("date_utc", DateType),
    StructField("endpoint_base", StringType),
    StructField("requests_total", LongType),
    StructField("success_2xx", LongType),
    StructField("client_4xx", LongType),
    StructField("server_5xx", LongType),
    StructField("parse_errors", LongType),
    StructField("avg_elapsed_ms", DoubleType),
    StructField("p90_elapsed_ms", DoubleType)))

  /** S2 — KPI CSV scan with the explicit schema (generar_reporte.py:262
    * uses pandas inference; we never infer). */
  def readKpiCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(kpiSchema).csv(path)

  /** K2 — single-CSV sink reproducing the reference's file contract
    * (calcular_kpi.py:121-153): `coalesce(1)` funnels every row into one
    * task with no shuffle, and the O1 sort runs inside that task, so the
    * sink runs no range exchange and no sampling job. */
  def writeKpiCsv(kpi: DataFrame, dir: String): Unit =
    kpi.coalesce(1).sortWithinPartitions(kpiOrder: _*)
      .select(kpiColumns.map(col): _*)
      .write.mode("overwrite").option("header", "true").csv(dir)
}
