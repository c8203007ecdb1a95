package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming counterparts of the training-data batch operators: continuous
  * dedup and gap sessionization over unbounded inputs.
  *
  * Both keep BOUNDED state via watermarks — the property that makes them
  * runnable forever at 100 TB/day: state for a key is dropped once the
  * watermark passes it, so memory is ∝ the in-flight window, not the
  * stream's history.
  */
object StreamingOps {

  /** Continuous exact dedup by content digest: emits the FIRST document
    * seen for each digest, suppresses duplicates arriving within the
    * watermark horizon. (Duplicates straddling more than `watermark` of
    * event time pass through — the documented trade for bounded state;
    * size the horizon to the pipeline's dedup window.) One shuffle on the
    * digest; state = one entry per distinct in-flight digest. */
  def dedupStream(
      docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Stream-stream interval join: each left event matched to right events
    * of the same key within `[left.ts - before, left.ts + after]`. BOTH
    * sides carry watermarks and the join condition bounds event time in
    * both directions, so Spark can expire buffered rows: state is ∝ the
    * interval + watermark horizon, never the stream history — the form of
    * stream-stream join that runs forever. (An unbounded-time condition
    * would accumulate state without limit; the analyzer only knows state
    * is droppable because the range + watermarks make it provable.)
    *
    * Output columns: key, left `ts`/payload prefixed `l_`, right
    * `ts`/payload prefixed `r_`.
    *
    * HOT-ENTITY GUARD (`denylist`): the join's OUTPUT is quadratic in a
    * single key's event rate — a key emitting f events per interval
    * produces ~f² pairs, and no engine knob makes a quadratic output
    * linear (measured: a 20%-hot user on a 10M-event corpus = 66.1M
    * pairs for that one key, ~3×10¹¹ state probes in one partition —
    * SCALE.md round 14). The production mitigation is pipeline-level:
    * pass a BATCH-computed table of hot keys (see [[hotEntities]]) and
    * both sides are broadcast-anti-joined against it BEFORE the join, so
    * the stateful operator never buffers the pathological key. Excluded
    * entities are NOT silently dropped — route them to a side sink with
    * a second query over the same sources (a broadcast semi join against
    * the denylist: the standard Structured Streaming side-output
    * shape). */
  def intervalJoinStream(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      before: String = "10 minutes", after: String = "10 minutes",
      watermark: String = "1 hour",
      denylist: Option[DataFrame] = None): DataFrame = {
    val (lIn, rIn) = denylist match {
      case Some(d) =>
        // static side broadcast: the guard must not add a shuffle to the
        // stream — a denylist is tiny by construction (keys over a rate
        // cap), and a stream-static broadcast anti-join keeps zero state.
        // PERSISTED (ADVICE r15): Structured Streaming re-plans the static
        // side every micro-batch, so an unpinned denylist plan (typically
        // a groupBy over the full history — [[hotEntities]]) would re-run
        // the whole history aggregation per batch per side; the pin makes
        // each batch's re-evaluation a cache read. Session-lived entry,
        // one tiny table, materialized by the first micro-batch.
        val keys = broadcast(d.select(col(keyCol))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        (left.join(keys, Seq(keyCol), "left_anti"),
          right.join(keys, Seq(keyCol), "left_anti"))
      case None => (left, right)
    }
    val l = lIn.columns.foldLeft(lIn)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$tsCol", watermark)
    val r = rIn.columns.foldLeft(rIn)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$tsCol", watermark)
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"INTERVAL $before") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $after"))
  }

  /** Batch-side hot-entity scan for [[intervalJoinStream]]'s guard: keys
    * whose historical event count exceeds `maxRate`. Computed OFF the
    * stream (one batch groupBy over the history table — rates move
    * slowly; recompute on whatever cadence bot lists refresh) and
    * broadcast into the stream. The steady-state per-batch cost is the
    * broadcast probe only BECAUSE [[intervalJoinStream]] pins the
    * denylist table — the history aggregation runs once, at the first
    * micro-batch, not per batch (measured ~7% tier overhead on a clean
    * corpus, BENCH_STREAM.json r16). Returns (keyCol, n_events). */
  def hotEntities(history: DataFrame, keyCol: String,
      maxRate: Long): DataFrame =
    history.groupBy(col(keyCol)).agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") > maxRate)

  /** Continuous gap sessionization via the native `session_window`
    * aggregate: a session closes after `gap` of event-time silence, the
    * closed session's row is emitted once the watermark passes its end.
    * Same semantics as the batch `Sessionize` operator (lag + running
    * session ids), expressed with merging session state instead of a
    * whole-history window sort. */
  def sessionStream(
      events: DataFrame, userCol: String, tsCol: String,
      gap: String = "30 minutes", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming distinct-count registers — the continuous half of q119's
    * engine-exact sketch (operators/DistinctSketch): the same md5-derived
    * (group, reg, max_rho) state, maintained as a plain streaming
    * aggregation. No watermark needed: max(rho) is monotone and the state
    * is BOUNDED BY CONSTRUCTION at ≤ 256 rows per group forever — which
    * is exactly why register sketches are the streaming distinct-count
    * (exact distinct state grows with every new key; this doesn't).
    * Because the state transition (max) is associative, commutative and
    * idempotent, the streaming registers after any prefix equal the batch
    * registers over the same rows — the spec asserts it. */
  def distinctRegistersStream(df: DataFrame, groupCol: String,
      keyCol: String): DataFrame =
    // one digest per row (the q119 packed-register path), same grouped
    // max — streaming aggregation state is unchanged in shape
    graft.operators.DistinctSketch.registers(df, Seq(groupCol), keyCol)

  /** Stream-static anomaly screen — the continuous half of q106's exact
    * integer 2σ test: hourly per-type counts aggregate in-stream
    * (watermarked tumbling window) and each closed window is probed
    * against STATIC per-type history stats `(n, s, ss)` via a broadcast
    * stream-static join. The test `(n·x−S)² > k²·(n·SS−S²)` is all
    * BIGINT, so a flagged hour is flagged identically on every run —
    * alerting that can't flap with reduction order. State is the
    * in-flight hour windows only (watermark-bounded).
    *
    * `stats` columns: (typeCol, n, s, ss) — e.g. the aggregate half of
    * `QueriesGraph.rateAnomalies` run over the historical batch. */
  def anomalyStream(events: DataFrame, typeCol: String, tsCol: String,
      stats: DataFrame, k: Long = 2L,
      watermark: String = "2 hours"): DataFrame = {
    val dev = col("n") * col("x") - col("s")
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour"), col(typeCol))
      .agg(count(lit(1)).as("x"))
      .join(broadcast(stats), typeCol)
      .filter(dev * dev > lit(k * k) * (col("n") * col("ss") - col("s") * col("s")))
      .select(col(typeCol), col("window.start").as("hour_start"), col("x"))
  }

  /** Reference histogram for [[driftStream]]: ONE row of per-bucket
    * counts (`r0..r{n-1}`) over a static corpus — the training-time
    * category mix the stream is monitored against. */
  def typeHistogram(df: DataFrame, typeCol: String,
      buckets: Seq[String]): DataFrame = {
    require(buckets.nonEmpty, "typeHistogram: need at least one bucket")
    df.agg(
      count_if(col(typeCol) === buckets.head).as("r0"),
      buckets.tail.zipWithIndex.map { case (b, i) =>
        count_if(col(typeCol) === b).as(s"r${i + 1}") }: _*)
  }

  /** Continuous distribution-drift monitor: per event-time window, the
    * L1 distance between the window's category mix and a STATIC
    * reference mix, flagged when it exceeds a threshold — the alarm a
    * training-data ingest runs so a source whose composition shifts
    * (schema change upstream, a crawler gone wrong, seasonality) is
    * caught before it contaminates a corpus snapshot.
    *
    * Distance contract (deterministic at any scale): per-bucket PPM
    * proportions `(b_i·10⁶) div total` vs `(r_i·10⁶) div ref_total`,
    * L1 = Σ |difference| — integer end-to-end, bounded by 2·10⁶
    * regardless of corpus size (no product of two totals can overflow),
    * and replayed verbatim by the q158 oracle. Resolution is 1 ppm per
    * bucket — the documented truncation.
    *
    * Scale shape: ONE stateful operator (the windowed conditional-count
    * aggregate — a fixed-width row per window, never per category), a
    * broadcast of the PERSISTED 1-row reference (the stream-static plan
    * is re-derived per micro-batch — the [[intervalJoinStream]] denylist
    * lesson), and a stateless projection for the distance. Rows drop
    * from state once the watermark passes their window. */
  def driftStream(events: DataFrame, typeCol: String, tsCol: String,
      buckets: Seq[String], ref: DataFrame,
      windowLen: String = "1 day", watermark: String = "2 hours",
      thresholdPpm: Long = 200000L): DataFrame = {
    require(buckets.nonEmpty, "driftStream: need at least one bucket")
    val counts = buckets.zipWithIndex.map { case (b, i) =>
      count_if(col(typeCol) === b).as(s"b$i") }
    val refRow = broadcast(ref.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val total = buckets.indices.map(i => col(s"b$i")).reduce(_ + _)
    val rtotal = buckets.indices.map(i => col(s"r$i")).reduce(_ + _)
    val l1 = buckets.indices.map(i =>
      abs(expr(s"(b$i * 1000000) div __t") - expr(s"(r$i * 1000000) div __rt")))
      .reduce(_ + _)
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(counts.head, counts.tail: _*)
      .crossJoin(refRow)
      .withColumn("__t", total).withColumn("__rt", rtotal)
      .filter(col("__t") > 0L && col("__rt") > 0L)
      .withColumn("l1_ppm", l1)
      .select(col("window.start").as("window_start"),
        col("__t").as("total"), col("l1_ppm"),
        (col("l1_ppm") > lit(thresholdPpm)).as("drifted"))
  }

  /** Per-entity funnel progress for [[FunnelStream.funnelStream]]:
    * `reached` = stages completed, `t` = micros of the latest stage. */
  final case class FunnelState(reached: Int, t: Long)

  /** Funnel advancement event: emitted whenever an entity completes one
    * or more stages within a micro-batch. */
  final case class FunnelAdvance(entity: Long, reached: Int, stage_ts: Long)
}

/** Continuous ordered-funnel tracking — the streaming counterpart of
  * [[graft.operators.EventSeq.funnel]]: per-entity custom state advances
  * through the stage list as events arrive, emitting a row each time an
  * entity completes a stage. Strict-after gating matches the batch
  * operator: stage k counts only when its event lands strictly after the
  * stage-(k−1) time AND the entity currently sits at stage k−1.
  *
  * State is one (int, long) per in-flight entity, dropped via event-time
  * timeout once the watermark passes `idleTimeout` beyond the entity's
  * last stage — bounded by in-flight entities, not stream history. One
  * shuffle on the entity key.
  *
  * Ordering caveat (the single-pass trade): each micro-batch is sorted
  * by event time, but an event arriving in a LATER batch with an EARLIER
  * timestamp (out-of-order beyond the batch boundary, within the
  * watermark horizon) can't rewind already-advanced state. For in-order
  * arrival the result is batch-identical (spec-asserted).
  */
object FunnelStream {
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
  import StreamingOps.{FunnelAdvance, FunnelState}

  def funnelStream(
      events: DataFrame, entityCol: String, tsCol: String, typeCol: String,
      stages: Seq[String], watermark: String = "1 hour",
      idleTimeout: String = "2 hours"): org.apache.spark.sql.Dataset[FunnelAdvance] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val spark = events.sparkSession
    import spark.implicits._
    // NOTE: the event-time column must flow through UNTRANSFORMED — a
    // unix_micros() projection would strip the watermark marker and fail
    // the streaming checker; micros are derived inside the lambda instead
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col(entityCol).cast("long"), col(tsCol), col(typeCol))
      .as[(Long, java.sql.Timestamp, String)]
    def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (entity: Long, raw: Iterator[(Long, java.sql.Timestamp, String)],
         state: GroupState[FunnelState]) =>
          val rows = raw.map { case (e, t, typ) => (e, micros(t), typ) }
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var s = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
            // no intra-group order guarantee: sort the batch by event time
            val batch = rows.toArray.sortBy(_._2)
            batch.foreach { case (_, t, typ) =>
              if (s.reached < stages.length && typ == stages(s.reached) &&
                  (s.reached == 0 || t > s.t)) {
                s = FunnelState(s.reached + 1, t)
                out += FunnelAdvance(entity, s.reached, t)
              }
            }
            state.update(s)
            // expire `idleTimeout` past the entity's latest activity (its
            // last stage, or this batch's newest event if it never entered).
            // Clamped to the CURRENT WATERMARK: under out-of-order arrival
            // (a file source's listing order, late partitions) a group's
            // batch can be entirely older than watermark − idleTimeout, and
            // an unclamped base would make Spark reject the timeout as
            // already-expired and kill the query. Timeouts only ever FIRE
            // on watermark advance, so the clamp never delays a timeout
            // that could have fired — it only keeps the registration legal.
            val lastActive = math.max(s.t,
              if (batch.nonEmpty) batch.last._2 else Long.MinValue)
            if (lastActive != Long.MinValue) {
              val wmMs = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(
                math.max(lastActive / 1000L, wmMs), idleTimeout)
            }
            out.iterator
          }
      }
  }
}
