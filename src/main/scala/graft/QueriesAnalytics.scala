package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second relational/analytics wave: cube, the analytic-window suite
  * (lag/lead/ntile/percent_rank/cume_dist/first_value), moment statistics,
  * correlated scalar subqueries, the part/supplier star dimensions, unpivot,
  * argmax-by-group, time-bucketed rollups, array higher-order functions,
  * within-document repetition, and the salted skew join.
  *
  * Cross-engine determinism rules are the same as QueriesRelational:
  * money/2-dp data goes through exact DECIMAL sums cast to double; integral
  * doubles sum exactly order-free; every derived double is computed from
  * exact sums with an IDENTICAL expression shape on both engines (IEEE ops
  * on identical inputs are deterministic); ratios of integers divide in
  * double on both sides.
  */
object QueriesAnalytics {

  private def decSum(c: String): org.apache.spark.sql.Column =
    expr(s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)")

  // -------------------------------------------------------------------
  // q27 — CUBE: all four grouping-set combinations of (returnflag,
  // linestatus) in one pass (q20 covers ROLLUP's prefix sets, q26 explicit
  // GROUPING SETS; CUBE completes the family). grouping() flags are part
  // of the output for the same null-vs-marginal reason as q26.
  // -------------------------------------------------------------------
  def cubeQuantities(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // re-aggregatable aggregates → cube over a pre-aggregated |flag×status|
    // base instead of Expand-ing every fact row ×4 (same at-scale reasoning
    // as q20's rollup; decimal sums re-associate exactly)
    val base = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("b_qty"),
        count(lit(1)).as("b_rows"),
        expr("sum(CAST(l_extendedprice AS DECIMAL(18,2)))").as("b_price"))
    base.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        sum(col("b_qty")).as("sum_qty"),
        sum(col("b_rows")).as("n_rows"),
        sum(col("b_price")).cast("double").as("sum_price"))
      .select(
        col("g_flag"), col("g_status"),
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"), col("sum_price"))
      .orderBy(col("g_flag"), col("g_status"), col("returnflag"), col("linestatus"))
  }

  val cubeQuantitiesSql: String =
    """SELECT CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |       CAST(grouping(l_linestatus) AS INT) AS g_status,
      |       coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       sum(l_quantity) AS sum_qty, count(*) AS n_rows,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q28 — analytic window suite: lag/lead (offset), ntile (bucketing),
  // percent_rank/cume_dist (relative rank — ratios of ints, so the doubles
  // are cross-engine exact), first_value (frame navigation), all over one
  // (customer, order-date) sort — one shuffle, one sort, five analytics.
  // -------------------------------------------------------------------
  def windowSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(
        col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first_value(col("o_orderkey")).over(w).as("first_order"))
      .orderBy(col("o_custkey"), col("od"), col("o_orderkey"))
  }

  val windowSuiteSql: String =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
      |       lag(o_totalprice, 1) OVER w AS prev_price,
      |       lead(o_totalprice, 1) OVER w AS next_price,
      |       ntile(4) OVER w AS quartile,
      |       percent_rank() OVER w AS pr,
      |       cume_dist() OVER w AS cd,
      |       first_value(o_orderkey) OVER w AS first_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, od, o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q29 — moment statistics (variance/stddev/correlation) per returnflag,
  // computed from EXACT power sums: quantities are integral (sums and
  // sums-of-squares stay < 2^53 → exact, order-free), discounts are 2-dp
  // (DECIMAL sums exact). The final var/std/corr arithmetic runs in double
  // with the identical expression tree on both engines, so every bit
  // matches — unlike built-in stddev/corr, whose merge order varies with
  // partitioning. The spec asserts Spark's built-ins agree to 1e-9.
  // -------------------------------------------------------------------
  def statsSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("l_quantity")).as("sx"),
        sum(col("l_quantity") * col("l_quantity")).as("sxx"),
        expr("CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)").as("sy"),
        expr("CAST(sum(CAST(l_discount AS DECIMAL(3,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)").as("syy"),
        expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)").as("sxy"))
      .select(
        col("l_returnflag"),
        col("n").cast("long").as("n_rows"),
        ((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - lit(1.0)))).as("var_qty"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - lit(1.0)))).as("std_qty"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_disc"))
      .orderBy(col("l_returnflag"))
  }

  val statsSummarySql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |         CAST(count(*) AS DOUBLE) AS n,
      |         sum(l_quantity) AS sx,
      |         sum(l_quantity * l_quantity) AS sxx,
      |         CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(l_discount AS DECIMAL(3,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS syy,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |       CAST(n AS BIGINT) AS n_rows,
      |       (n * sxx - sx * sx) / (n * (n - 1.0)) AS var_qty,
      |       sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) AS std_qty,
      |       (n * sxy - sx * sy) /
      |         (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_disc
      |FROM s ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q58 — correlated scalar subquery: orders above their own customer's
  // average order value. Catalyst decorrelates the per-row subquery into
  // an aggregate + join (seen in the plan as Aggregate → Join, not a
  // per-row loop) — the optimizer transformation this query exists to
  // exercise.
  // -------------------------------------------------------------------
  def correlatedAboveAvg(spark: SparkSession, sfDir: String): DataFrame = {
    // The correlated scalar subquery planned as a per-custkey aggregate
    // joined back to a SECOND orders scan. The subquery's group is the
    // row's own key, so a window over one scan computes the identical
    // per-customer average in place (r19, guide §2.4 "remove shuffles
    // outright"): one scan, one custkey exchange, no join. Arithmetic is
    // value-identical — the same DECIMAL(18,2) sum cast to DOUBLE, then
    // one IEEE double division by the same count. NULL keys are dropped
    // first: the subquery's `o2.o_custkey = o.o_custkey` matches nothing
    // for them (so they are never above average), whereas a window would
    // pool them into one partition with an average of their own.
    val o = Tables.orders(spark, sfDir).filter(col("o_custkey").isNotNull)
    val w = Window.partitionBy(col("o_custkey"))
    val cavg = (sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
      .cast("double") / count(lit(1)).over(w)).as("cavg")
    o.select(col("o_orderpriority"), col("o_totalprice"), cavg)
      .filter(col("o_totalprice") > col("cavg"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_above"),
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
          .as("sum_above"))
      .orderBy(col("o_orderpriority"))
  }

  val correlatedAboveAvgSql: String =
    """SELECT o_orderpriority, count(*) AS n_above,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_above
      |FROM orders o
      |WHERE o_totalprice > (
      |    SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |    FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // q59 — star join through the part + supplier dimensions (the two
  // corpus tables no other query touches): revenue by supplier nation ×
  // part brand for small parts. Both dims and nation broadcast — the
  // fact table never shuffles for the joins, only for the final rollup.
  // -------------------------------------------------------------------
  def partsSupplyStar(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir).filter(col("p_size") <= 15)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)")
          .as("revenue"))
      .orderBy(col("n_name"), col("p_brand"))
  }

  val partsSupplyStarSql: String =
    """SELECT n_name, p_brand, count(*) AS n_items,
      |       sum(l_quantity) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN part     ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |WHERE p_size <= 15
      |GROUP BY n_name, p_brand
      |ORDER BY n_name, p_brand""".stripMargin

  // -------------------------------------------------------------------
  // q60 — within-document repetition: word-trigram shingles vs distinct
  // shingles per document (the standard "repetitive boilerplate" signal a
  // training-data quality filter uses). Pure array higher-order functions
  // (transform over an index sequence) — no explode, no shuffle except
  // the final sort; integer counts + a ratio of ints.
  // -------------------------------------------------------------------
  /** Word-trigram repetition stats for any (id, text) table — the reusable
    * core of q60 (also exercised directly by the spec on edge-case docs). */
  def trigramStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(graft.functions.TextFunctions.normalizeText(col(textCol)), " ")
    docs.select(col(idCol), toks.as("toks"))
      .select(
        col(idCol),
        size(col("toks")).as("n_tokens"),
        // size<3 guard: Spark's sequence(1, n) DESCENDS when n < 1 (so a
        // 2-token doc would index toks[2] out of bounds under ANSI mode)
        when(size(col("toks")) >= 3,
          expr("transform(sequence(1, size(toks) - 2), " +
            "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)")).as("tris"))
      .select(
        col(idCol), col("n_tokens"),
        size(col("tris")).as("n_trigrams"),
        size(array_distinct(col("tris"))).as("n_distinct_trigrams"))
      .withColumn("repetition_ratio",
        when(col("n_trigrams") > 0,
          lit(1.0) - col("n_distinct_trigrams").cast("double") /
            col("n_trigrams").cast("double"))
          .otherwise(lit(0.0)))
  }

  def trigramRepetition(spark: SparkSession, sfDir: String): DataFrame =
    trigramStats(
      Tables.rebalance(Tables.documents(spark, sfDir).select("doc_id", "text")),
      "doc_id", "text")
      .orderBy(col("doc_id"))

  val trigramRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents),
      |tr AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |         list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
      |                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tris
      |  FROM t)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
      |       CAST(len(tris) AS INT) AS n_trigrams,
      |       CAST(len(list_distinct(tris)) AS INT) AS n_distinct_trigrams,
      |       CASE WHEN len(tris) > 0
      |            THEN 1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / CAST(len(tris) AS DOUBLE)
      |            ELSE 0.0 END AS repetition_ratio
      |FROM tr ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q61 — time-bucketed rollup of the event stream: date_trunc to the
  // hour × event type, with exact decimal value sums. The batch twin of
  // the streaming windowed aggregation (StreamingKpi) — same bucketing,
  // same one-shuffle plan.
  // -------------------------------------------------------------------
  def hourlyEventRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    // r19 audit note: a single-distinct-column aggregate does NOT pay the
    // multi-distinct Expand — Spark 4 already plans this as the two-level
    // shape (partial agg keyed (hour, type, user), then (hour, type));
    // an explicit two-level rewrite produced a structurally identical
    // plan and was dropped.
    ev.groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  val hourlyEventRollupSql: String =
    """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
      |       event_type,
      |       count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |       min(value) AS min_value,
      |       max(value) AS max_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // q62 — array higher-order functions over the embedding column:
  // filter/size/max/min per vector, all codegen'd, no UDF, no explode.
  // Counts are ints and float→double casts are exact, so the oracle is
  // bit-stable despite the float payload.
  // -------------------------------------------------------------------
  def arrayHofStats(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val emb = col("embedding")
    e.select(
        col("vec_id"),
        size(emb).as("dim"),
        size(filter(emb, v => v > lit(0.0f))).as("n_pos"),
        size(filter(emb, v => abs(v) > lit(0.5f))).as("n_large"),
        array_max(emb).cast("double").as("max_val"),
        array_min(emb).cast("double").as("min_val"))
      .orderBy(col("vec_id"))
  }

  val arrayHofStatsSql: String =
    """SELECT vec_id,
      |       CAST(len(embedding) AS INT) AS dim,
      |       CAST(len(list_filter(embedding, v -> v > 0)) AS INT) AS n_pos,
      |       CAST(len(list_filter(embedding, v -> abs(v) > 0.5)) AS INT) AS n_large,
      |       CAST(list_max(embedding) AS DOUBLE) AS max_val,
      |       CAST(list_min(embedding) AS DOUBLE) AS min_val
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q63 — argmax per group without a window: max(struct(price, key))
  // carries the argument through the ordinary hash aggregate — one
  // shuffle, partial/final agg, no per-group sort. The (price, key) pair
  // is unique per customer, so ties resolve deterministically to the
  // larger orderkey on both engines.
  // -------------------------------------------------------------------
  def argmaxTopOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.groupBy(col("o_custkey"))
      .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"),
        count(lit(1)).as("n_orders"))
      .select(
        col("o_custkey"),
        col("m.o_orderkey").as("top_order"),
        col("m.o_totalprice").as("top_price"),
        col("n_orders"))
      .orderBy(col("o_custkey"))
  }

  val argmaxTopOrderSql: String =
    """SELECT o_custkey, o_orderkey AS top_order, o_totalprice AS top_price, n_orders
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         count(*) OVER (PARTITION BY o_custkey) AS n_orders,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q64 — unpivot (wide→long melt, the inverse of q25's pivot): the
  // per-status price buckets as (status, bucket, n) rows. Spark's native
  // unpivot generates an Expand node — one pass, no join.
  // -------------------------------------------------------------------
  def unpivotBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val wide = o.groupBy(col("o_orderstatus"))
      .agg(
        count_if(col("o_totalprice") < 50000).as("bucket_low"),
        count_if(col("o_totalprice") >= 50000 && col("o_totalprice") < 150000).as("bucket_mid"),
        count_if(col("o_totalprice") >= 150000).as("bucket_high"))
    wide.unpivot(
        Array(col("o_orderstatus")),
        Array(col("bucket_low"), col("bucket_mid"), col("bucket_high")),
        "bucket", "n_orders")
      .orderBy(col("o_orderstatus"), col("bucket"))
  }

  val unpivotBucketsSql: String =
    """WITH wide AS (
      |  SELECT o_orderstatus,
      |         count(*) FILTER (WHERE o_totalprice < 50000) AS bucket_low,
      |         count(*) FILTER (WHERE o_totalprice >= 50000 AND o_totalprice < 150000) AS bucket_mid,
      |         count(*) FILTER (WHERE o_totalprice >= 150000) AS bucket_high
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderstatus, 'bucket_low' AS bucket, bucket_low AS n_orders FROM wide
      |UNION ALL
      |SELECT o_orderstatus, 'bucket_mid', bucket_mid FROM wide
      |UNION ALL
      |SELECT o_orderstatus, 'bucket_high', bucket_high FROM wide
      |ORDER BY o_orderstatus, bucket""".stripMargin

  // -------------------------------------------------------------------
  // q65 — salted skew join (operators/SkewSalt.saltedJoin): lineitem ⋈
  // orders on the order key with the fact side spread over 8 salts and
  // the build side replicated per salt. The aggregate of the salted join
  // must equal the plain join — which is exactly what the oracle asserts.
  // -------------------------------------------------------------------
  def saltedSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    operators.SkewSalt.saltedJoin(li, o, "l_orderkey", "o_orderkey", numSalts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val saltedSkewJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       sum(l_quantity) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // q66 — multimodal metadata, oracle-checked: the decode pipeline's
  // per-media metadata (geometry/channels/format) is a pure function of
  // the payload's rolling hash, so DuckDB can recompute it from the text
  // bytes — making the mapPartitions decode boundary itself verifiable
  // against an independent engine (q50 keeps the rows-only feature
  // stats). The corpus is ASCII, so codepoints == UTF-8 bytes.
  // -------------------------------------------------------------------
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val payloads = operators.Multimodal.payloadFromText(
      Tables.rebalance(
        Tables.documents(spark, sfDir).select("doc_id", "source", "text")),
      "doc_id", "source", "text")
    operators.Multimodal.decodeFeatures(payloads)
      .select(col("media_id"), col("width"), col("height"),
        col("channels"), col("format"), col("n_bytes"))
      .orderBy(col("media_id"))
  }

  val multimodalMetaSql: String =
    """WITH h0 AS (
      |  SELECT doc_id,
      |         length(text) AS n_bytes,
      |         list_reduce(
      |           list_prepend(1125899906842597::HUGEINT,
      |             list_transform(range(1, length(text) + 1),
      |                            i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
      |           (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS hu
      |  FROM documents),
      |hs AS (  -- unsigned 64-bit hash → the signed Long the JVM computes
      |  SELECT doc_id, n_bytes,
      |         CASE WHEN hu >= 9223372036854775808::HUGEINT
      |              THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS s
      |  FROM h0),
      |sh AS (  -- arithmetic shifts as floor-division (trunc-div corrected)
      |  SELECT doc_id, n_bytes, s,
      |         (s - ((s % 65536 + 65536) % 65536)) // 65536 AS s16,
      |         (s - ((s % 4294967296 + 4294967296) % 4294967296)) // 4294967296 AS s32
      |  FROM hs)
      |SELECT doc_id AS media_id,
      |       CAST(1 + ((s % 1920 + 1920) % 1920) AS INT) AS width,
      |       CAST(1 + ((s16 % 1080 + 1080) % 1080) AS INT) AS height,
      |       CAST(1 + ((s32 % 4 + 4) % 4) AS INT) AS channels,
      |       CASE WHEN (s % 2 + 2) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |       CAST(n_bytes AS BIGINT) AS n_bytes
      |FROM sh ORDER BY media_id""".stripMargin
}
