package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.DistinctSketch
import graft.streaming.{FunnelStream, Replay, StreamingOps}

/** Streaming tiers lifted to the ORACLE contract: each query replays the
  * same parquet rows the batch twin reads as N micro-batches through the
  * streaming operator ([[graft.streaming.Replay]]) and returns the final
  * sink table — hash-checked by DuckDB against the SAME oracle SQL as the
  * batch query. This is strictly stronger than the in-spec streaming≡batch
  * assertions: the streaming result now faces the independent engine, so a
  * shared Spark-side bug in both tiers can't self-confirm.
  *
  * bench=false in the registry: the replay harness controls micro-batch
  * boundaries (the documented seam) — not a scale-representative
  * throughput path. Every replay here rides Replay.replayFiles — a
  * distributed file feed of contiguous ordered slices with NO driver
  * collect (VERDICT r9 watch item), so the whole q133-q138 oracle gate
  * runs at sf1+ without driver-memory risk; only 1-row aggregates
  * (sentinel timestamps) ever reach the driver. The production shape is
  * `readStream` + the same transform; its scale story (bounded state
  * via watermarks / by-construction register bounds) is documented on
  * each operator.
  */
object QueriesStreaming {

  // -------------------------------------------------------------------
  // q133 — the q96 ordered funnel, computed BY THE STREAM: events replayed
  // event-time-sorted in 8 micro-batches through the per-entity
  // flatMapGroupsWithState funnel; the final per-user stage is the max of
  // the emitted advances. Oracle: q96's SQL, verbatim — for in-order
  // arrival the streaming funnel is batch-identical (the operator's
  // documented guarantee, here proven against DuckDB instead of against
  // our own batch code). idleTimeout is effectively disabled (decades):
  // a mid-replay state expiry would forget progress and re-emit stage 1,
  // which the CONTINUOUS operator accepts as its bounded-state trade but
  // would break whole-history replay equality.
  // -------------------------------------------------------------------
  def funnelStreamReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val advances = Replay.replayFiles(spark, ev,
        Seq(col("ts"), col("user_id"), col("event_type")),
        numBatches = 8, OutputMode.Append) { df =>
      FunnelStream.funnelStream(df,
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        watermark = "1 hour", idleTimeout = "3650 days").toDF()
    }
    advances.groupBy(col("entity").as("user_id"))
      .agg(max(col("reached")).cast("long").as("reached"))
      .select(col("user_id"), col("reached"))
      .orderBy(col("user_id"))
  }

  // -------------------------------------------------------------------
  // q135 — the q40 gap sessionization, computed BY THE STREAM: events
  // replayed event-time-sorted through the session_window aggregation;
  // per-user stats are derived from the emitted closed sessions. Oracle:
  // q40's SQL, verbatim. Because append-mode session output is gated on
  // the watermark, two far-future sentinel batches close the final
  // sessions (Replay's flush contract); sentinel user_id < 0 is filtered
  // out. Boundary note: session_window closes a session at gap >= 30 min
  // while the batch lag-rule closes strictly past it — a gap of EXACTLY
  // 1800.000000 s would diverge; no such gap exists in any corpus SF
  // (microsecond timestamps make it measure-zero), and the oracle replay
  // would surface one immediately if the data ever grew it.
  // -------------------------------------------------------------------
  def sessionStreamReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select(col("user_id"), col("ts"))
    // max event time feeds only the SENTINEL rows (a 1-row aggregate,
    // not a table collect); the event table itself never leaves the
    // executors — Replay.replayFiles feeds it from parquet slices
    val lastTs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
    def sentinel(daysAhead: Int): DataFrame =
      Seq((-1L, new java.sql.Timestamp(lastTs + daysAhead * 86400000L)))
        .toDF("user_id", "ts")
    val sessions = Replay.replayFiles(spark, ev,
        Seq(col("ts"), col("user_id")), numBatches = 8,
        OutputMode.Append, flush = Seq(sentinel(40), sentinel(41))) { df =>
      StreamingOps.sessionStream(df,
        "user_id", "ts", gap = "30 minutes", watermark = "1 hour")
    }
    sessions.filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))
  }

  // -------------------------------------------------------------------
  // q138 — the stream-stream interval join, replayed as a SELF-join of
  // the event stream: each event matched to same-user events within
  // ±10 minutes. Completeness logic: the join interval (10 min) is well
  // inside the watermark horizon (1 h), and the replay feeds batches in
  // event-time order, so no buffered row is ever expired before its
  // last possible partner arrives — the stream must find EXACTLY the
  // batch join's pairs, which DuckDB replays as a plain self-join.
  // Inner stream-stream joins emit eagerly on match (only outer joins
  // hold for the watermark), so no sentinel flush is needed.
  // -------------------------------------------------------------------
  def intervalJoinStreamReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"))
    val joined = Replay.replayFiles(spark, ev,
        Seq(col("ts"), col("event_id")), numBatches = 8,
        OutputMode.Append) { df =>
      StreamingOps.intervalJoinStream(df, df, "user_id", "ts",
        before = "10 minutes", after = "10 minutes", watermark = "1 hour")
    }
    joined.select(col("l_event_id"), col("r_event_id"))
      .orderBy(col("l_event_id"), col("r_event_id"))
  }

  val intervalJoinStreamReplaySql: String =
    """SELECT a.event_id AS l_event_id, b.event_id AS r_event_id
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts >= a.ts - INTERVAL 10 MINUTE
      | AND b.ts <= a.ts + INTERVAL 10 MINUTE
      |ORDER BY l_event_id, r_event_id""".stripMargin

  // -------------------------------------------------------------------
  // q137 — the stream-static anomaly screen, replayed: hourly per-type
  // counts aggregate in-stream (watermarked tumbling windows) and each
  // closed hour is probed against STATIC per-type history stats via the
  // broadcast stream-static join — the all-BIGINT 2σ test, so a flagged
  // hour is flagged identically on every engine. The static stats are
  // the batch aggregate over the same rows (the operator's documented
  // deployment shape: history stats feed the live screen). Oracle: an
  // independent DuckDB replay of hourly counts + the integer test.
  // Sentinel flush closes the final hour windows (Replay contract);
  // sentinel rows carry an unknown type, so the inner stats join drops
  // them before the sink.
  // -------------------------------------------------------------------
  def anomalyStreamReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("ts"))
    val hourly = ev.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("ss"))
    val src = ev.select(col("ts"), col("event_type"))
    val lastTs = src.agg(max(col("ts"))).head().getTimestamp(0).getTime
    def sentinel(daysAhead: Int): DataFrame =
      Seq((new java.sql.Timestamp(lastTs + daysAhead * 86400000L),
        "zz_replay_sentinel")).toDF("ts", "event_type")
    val flagged = Replay.replayFiles(spark, src,
        Seq(col("ts"), col("event_type")), numBatches = 8,
        OutputMode.Append, flush = Seq(sentinel(40), sentinel(41))) { df =>
      StreamingOps.anomalyStream(df,
        "event_type", "ts", stats, k = 2L, watermark = "2 hours")
    }
    flagged.select(col("event_type"), col("hour_start"), col("x"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  val anomalyStreamReplaySql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS s,
      |         CAST(sum(x * x) AS BIGINT) AS ss
      |  FROM hourly GROUP BY 1)
      |SELECT h.event_type, h.h AS hour_start, h.x
      |FROM hourly h JOIN st USING (event_type)
      |WHERE (n * x - s) * (n * x - s) > 4 * (n * ss - s * s)
      |ORDER BY event_type, hour_start""".stripMargin

  // -------------------------------------------------------------------
  // q136 — the continuous exact-dedup screen, replayed: documents arrive
  // as 8 micro-batches (synthetic monotone event time — the corpus has
  // no timestamp; arrival order is the dedup-relevant dimension) through
  // dropDuplicatesWithinWatermark on the content digest, watermark far
  // beyond the replay so no state ever expires. The oracle-checked
  // contract is the operator's core guarantee: EXACTLY ONE survivor per
  // distinct payload — the emitted digest set, sorted, hash-equals
  // DuckDB's DISTINCT md5 over the same documents (an extra emission or
  // a suppressed digest both break the row hash). keep_id is NOT part of
  // the contract: within one micro-batch the surviving row of a digest
  // is whichever partition reports first, by design.
  // -------------------------------------------------------------------
  def dedupStreamReplay(spark: SparkSession, sfDir: String): DataFrame = {
    // FILE-SOURCE tier (Replay.replayFiles): document TEXT was the
    // second-largest driver collect in the replay family — the file
    // feed streams it without the driver ever holding the corpus
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        // synthetic monotone event time (the corpus has no timestamp;
        // arrival order is the dedup-relevant dimension)
        expr("timestamp_millis(86400000 + doc_id)").as("ts"))
    val kept = Replay.replayFiles(spark, docs, Seq(col("doc_id")),
        numBatches = 8, OutputMode.Append) { df =>
      StreamingOps.dedupStream(df, "text", "ts", watermark = "3650 days")
    }
    kept.select(col("digest")).orderBy(col("digest"))
  }

  val dedupStreamReplaySql: String =
    """SELECT DISTINCT md5(text) AS digest FROM documents
      |ORDER BY digest""".stripMargin

  // -------------------------------------------------------------------
  // q134 — the q119 distinct-count registers, maintained BY THE STREAM:
  // lineitem rows replayed in 8 micro-batches through the Complete-mode
  // register aggregation; the sink table after the last batch is the full
  // register state, summarized exactly like the batch tier. Oracle:
  // q119's SQL, verbatim — max-of-rho state is commutative, associative
  // and idempotent, so ANY batching must land on the identical registers.
  //
  // This one rides the FILE-SOURCE replay tier (Replay.replayFiles,
  // VERDICT r9 #5): lineitem is the largest replayed input (60M rows at
  // sf1, far too many to collect on the driver), and the register stream
  // is the safest proof vehicle for the file tier because its state is
  // order-insensitive by construction. Slices are range-partitioned on
  // l_orderkey — a real ordering, but ANY slicing lands on identical
  // registers.
  // -------------------------------------------------------------------
  def distinctRegistersStreamReplay(spark: SparkSession,
      sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_orderkey"))
    val regs = Replay.replayFiles(spark, li, Seq(col("l_orderkey")),
        numBatches = 8, OutputMode.Complete) { df =>
      StreamingOps.distinctRegistersStream(
        df, "l_returnflag", "l_orderkey")
    }
    val sk = DistinctSketch.summary(regs, Seq("l_returnflag"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
    sk.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_distinct"),
        col("reg_sum"), col("registers_hit"))
      .orderBy(col("l_returnflag"))
  }

  // -------------------------------------------------------------------
  // q158 — the distribution-drift monitor, replayed: events arrive in 8
  // event-time-ordered micro-batches; each day window's event-type mix
  // is compared (ppm-integer L1) against the PERSISTED static reference
  // histogram of the whole corpus. The oracle recomputes day mixes and
  // the identical div-by-10⁶ arithmetic from the batch table — counts
  // are commutative, so any batching must land on the same histograms,
  // and the stream-static broadcast must not perturb a single count.
  // -------------------------------------------------------------------
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def driftStreamReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select(col("ts"), col("event_type"))
    val ref = StreamingOps.typeHistogram(ev, "event_type", eventTypes)
    val lastTs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
    def sentinel(daysAhead: Int): DataFrame =
      Seq((new java.sql.Timestamp(lastTs + daysAhead * 86400000L),
        "zz_replay_sentinel")).toDF("ts", "event_type")
    Replay.replayFiles(spark, ev, Seq(col("ts")), numBatches = 8,
        OutputMode.Append, flush = Seq(sentinel(40), sentinel(41))) { df =>
      StreamingOps.driftStream(df, "event_type", "ts", eventTypes, ref,
        windowLen = "1 day", watermark = "2 hours")
    }
      .filter(col("window_start") <= lit(new java.sql.Timestamp(lastTs)))
      .orderBy(col("window_start"))
  }

  val driftStreamReplaySql: String = {
    val bs = eventTypes.zipWithIndex.map { case (t, i) =>
      s"count(*) FILTER (WHERE event_type = '$t') AS b$i" }.mkString(",\n         ")
    val rs = eventTypes.zipWithIndex.map { case (t, i) =>
      s"count(*) FILTER (WHERE event_type = '$t') AS r$i" }.mkString(",\n         ")
    val l1 = eventTypes.indices.map(i =>
      s"abs((b$i * 1000000) // t - (r$i * 1000000) // rt)").mkString(" +\n         ")
    s"""WITH g AS (
      |  SELECT $rs
      |  FROM events),
      |d AS (
      |  SELECT date_trunc('day', ts) AS day,
      |         $bs
      |  FROM events GROUP BY 1),
      |j AS (
      |  SELECT d.*, g.*,
      |         (b0 + b1 + b2 + b3 + b4) AS t,
      |         (r0 + r1 + r2 + r3 + r4) AS rt
      |  FROM d, g)
      |SELECT day AS window_start, CAST(t AS BIGINT) AS total,
      |       CAST($l1 AS BIGINT) AS l1_ppm,
      |       ($l1) > 200000 AS drifted
      |FROM j WHERE t > 0 AND rt > 0
      |ORDER BY window_start""".stripMargin
  }
}
