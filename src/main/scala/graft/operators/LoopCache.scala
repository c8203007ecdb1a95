package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache lifecycle for iterative/anchored operators: pin the new state,
  * FORCE it, then release what it superseded — so an N-round loop (or an
  * N-anchor pipeline) leaves O(1) live cache entries instead of N
  * (regression-pinned by ScaleSpec).
  *
  * The eager count is load-bearing, not bookkeeping: caches are lazy, so
  * unpersisting round N−1 BEFORE round N materializes would make round N
  * recompute N−1 from its (by then also-unpersisted) lineage — the exact
  * 2^rounds plan blowup the per-round persist exists to kill. Forcing the
  * new table first means the release only ever drops data nothing still
  * needs. Cost: one count job per step over an already-cached table.
  *
  * Eviction safety: a released entry can still be recomputed from lineage
  * if an executor later loses the pinned copy — correctness never depends
  * on the cache, only the cost model does (MEMORY_AND_DISK keeps that
  * path cold).
  */
object LoopCache {

  /** True when a semantically-equal plan is already pinned — i.e. a
    * prior invocation of the same operator on the same inputs ran
    * [[finish]] and its result cache is still live. `storageLevel` is
    * the public API over CacheManager's canonicalized-plan lookup (the
    * same match Spark applies at execution), so a fresh DataFrame built
    * by a re-invoked query factory still probes true. */
  def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** Pin-and-read a tiny aggregate whose VALUE feeds plan construction
    * (BM25's corpus statistics, sampling-rate targets): the frame is
    * persisted on first read, so re-invocations of the same operator read
    * the cached row instead of re-driving the scan behind it — without
    * this, a data-derived constant forces a full pass per invocation even
    * when the operator's final table is still pinned. Inside a [[memo]]
    * build a plain `head()` does instead: a warm call returns the memo
    * before reaching it. One deliberate session-lived cache entry per
    * distinct frame, bounded by its single-row size. */
  def pinnedRow(df: DataFrame): org.apache.spark.sql.Row = {
    if (!cached(df)) df.persist(StorageLevel.MEMORY_AND_DISK)
    df.head()
  }

  /** [[pinnedRow]] for small multi-row aggregates (per-stratum counts
    * feeding sampling rates/targets): pin + collect. Callers use it only
    * for ≤|strata|-sized frames, so the session-lived entry stays tiny. */
  def pinnedRows(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    if (!cached(df)) df.persist(StorageLevel.MEMORY_AND_DISK)
    df.collect()
  }

  /** One loop step: pin + force `next`, release `prev` (a no-op when
    * `prev` was never persisted, e.g. the round-0 seed table). */
  def step(next: DataFrame, prev: DataFrame): DataFrame = {
    val pinned = next.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    prev.unpersist(blocking = false)
    pinned
  }

  /** The round driver of every loop that pins its rounds (BFS and SSSP,
    * the k-core peel, label propagation): `rounds` rounds from `seed`,
    * whose pinned frame is `seedPinned` (the seed itself when it was
    * never pinned). Each round [[step]]s `round(prev)`, releasing the
    * previous PINNED frame, and hands the next round that table re-rooted
    * on its materialized RDD ([[SqlBridge.reRoot]]). Releasing the
    * re-rooted frame would release nothing: it is a new `LogicalRDD`
    * plan that was never persisted. Returns (last re-rooted frame, last
    * pinned frame).
    *
    * Why both. PINNED: a BFS, SSSP or k-core round reads its
    * predecessor twice (the kept side of the min/union and the next
    * join), so an unpinned loop doubles its plan tree every round,
    * 2^rounds re-executions (measured: 48 s for 3 BFS rounds at sf0.1,
    * 2 s pinned), and the release keeps one live entry per loop instead
    * of one per round.
    * RE-ROOTED: the round count is the caller's (BFS and SSSP need about
    * the graph diameter, a high-layering graph peels one k-core layer a
    * round), and a round plan that nests its predecessor's costs
    * superlinear Catalyst planning in depth (measured on the skewed
    * replica corpus: 1.9 s a round at 8 rounds, 14.5 s at 12, unusable
    * at 20 — SCALE.md round 14; a 20-round k-core held a driver core for
    * 30+ min). Re-rooting keeps RDD lineage, so an evicted block
    * recomputes (the ResilienceSpec contract), unlike `localCheckpoint`.
    * Loops whose round reads its predecessor once run as one plan
    * instead ([[chain]]). */
  def pinnedRounds(seed: DataFrame, seedPinned: DataFrame, rounds: Int)(
      round: DataFrame => DataFrame): (DataFrame, DataFrame) =
    (1 to rounds).foldLeft((seed, seedPinned)) { case ((prev, prevPinned), _) =>
      val pinned = step(round(prev), prevPinned)
      (org.apache.spark.sql.graftbridge.SqlBridge.reRoot(pinned), pinned)
    }

  /** Every `ChainRounds`-th round of a loop run as one plan (PageRank,
    * whose round reads its predecessor once) re-roots the chain on its
    * RDD, unpinned: the final's one job still computes each round once,
    * but analysis stays linear in rounds and a deep chain cannot overflow
    * the driver's stack (an unbroken one did by 160 rounds). */
  val ChainRounds = 20
  def chain(round: Int, next: DataFrame): DataFrame =
    if (round % ChainRounds != 0) next
    else org.apache.spark.sql.graftbridge.SqlBridge.reRoot(next)

  /** Driver-side result memo for operators whose round plans embed
    * DATA-DEPENDENT literals (HITS bakes each round's max into the next
    * divisor): their final plan cannot even be CONSTRUCTED without
    * executing the loop, so the plan-identity warm probe ([[cached]] on
    * a rebuilt final) is structurally unavailable. Keyed by the
    * canonicalized input plan + parameters — the same semantic-equality
    * basis CacheManager uses — so a re-invoked query factory (new
    * Dataset objects, equal plans) returns the SAME result frame, whose
    * pinned backing the first run left live: zero jobs, zero new cache
    * entries. Session-lived like every pin in this engine; after a
    * `clearCache()` the memoized frame lazily recomputes through its
    * lineage (slower, still correct — the cache is cost model, never
    * correctness). */
  private val memoMap =
    scala.collection.mutable.HashMap.empty[Seq[Any], DataFrame]

  /** Canonicalized-plan memo key component for `df`. */
  def planKey(df: DataFrame): Any =
    df.queryExecution.analyzed.canonicalized

  def memo(key: Seq[Any])(build: => DataFrame): DataFrame =
    memoMap.synchronized(memoMap.get(key)) match {
      case Some(hit) => hit
      case None =>
        val built = build // outside the lock: builds run jobs
        memoMap.synchronized(memoMap.getOrElseUpdate(key, built))
    }

  /** Forget every memoized result — the memo-side counterpart of
    * `spark.catalog.clearCache()`. Timing/verification harnesses that
    * clear the cache between queries for cold honesty must ALSO clear
    * the memo, or a memoized operator's "cold" run silently returns the
    * previous invocation's frame (and the session-lived map keeps its
    * captured plans/RDDs alive).
    *
    * Dropping the loop-session clones costs no recompilation: the next
    * [[loopSession]] clone finds the previous clone's generated classes
    * in Spark's codegen cache. That is JVM-level code reuse, like the
    * JIT's, not result reuse, so it needs no reuse label. */
  def clearMemo(): Unit = {
    memoMap.synchronized(memoMap.clear())
    // the loop-session memo is the same kind of session-lived state: a
    // harness that resets between queries must also drop the tuned
    // clones, or a long-lived JVM that creates/stops many parent
    // sessions (test suites, notebooks) retains every parent forever
    // through this map's strong keys
    tunedSessions.synchronized(tunedSessions.clear())
  }

  /** Exchange width for a fixed-shape iterative loop, derived from the
    * loop's per-round data volume (edge count for graph rounds, vector
    * count for clustering): enough partitions to keep per-task volumes
    * near `rowsPerTask`, capped at the cluster's parallelism, floored at
    * 1. The width GROWS with the data — sf0.01 loops run 1-wide, sf0.1
    * ~8-wide, a 100 TB graph saturates the cluster cap — instead of
    * inheriting the ambient OLAP width, which at node-sized per-round
    * volumes spends more on task scheduling than on work (measured on
    * 5-round PageRank at sf0.1, 2.39M edges: 8-wide+static is 2.1×
    * faster production-cold than 32-wide+adaptive). Graph loops read
    * their volume with [[FooterCounts]]: from the parquet footers of a
    * staged layout with no job, else by one aggregate query over the
    * operand. */
  def loopWidth(spark: org.apache.spark.sql.SparkSession, volumeRows: Long,
      rowsPerTask: Long = 300000L): Int = {
    val cores = spark.sparkContext.defaultParallelism
    // NO spill guard above the core cap (r19 — this REVERSES the r18
    // "grow the width past cores to bound per-task aggregate maps"
    // change, which shipped without its A/B). The committed A/B at the
    // sf10-class replica (SCALE.md §r19) measured the guard as a 1.7–2×
    // REGRESSION on the loops it existed for: q94 PageRank rounds at
    // 120-wide wrote 2.4× the shuffle bytes (splitting maps reduces
    // map-side combining — each dst key appears in more tasks) and
    // spilled 13 GB/round vs 6.3 GB at 32-wide (the spill is the round
    // join/sort, whose total scales with rows processed, not with the
    // reduce width — concurrent tasks are bounded by cores either way);
    // q118 k-core: warm 20 → 36 s, spill 17 → 33 GB with the guard;
    // q111 flat (its pair exchange is sized separately by [[pairWidth]],
    // which is the RIGHT place for reduce-map sizing — it widens one
    // keyed exchange, not every stage of the round).
    math.max(1L, math.min(cores.toLong,
      (volumeRows + rowsPerTask - 1) / rowsPerTask)).toInt
  }

  /** Width for a PAIR-VOLUME-sized exchange (q120's PairRowsPerTask
    * discipline, shared by LabelPropagation's round exchange and BM25's
    * scoring fan-out): enough partitions to keep reduce-side hash maps
    * near `rowsPerTask` (~1M keeps them tens of MB and spill-free —
    * sf10-replica measurements in the callers), never below `floor`
    * (the loop width, so downstream re-exchanges don't mismatch), and
    * CEILED at 64×cores (ADVICE r18: unbounded, a 10^10-pair graph
    * would request 10k+ partitions per round). 64 waves per core
    * amortizes scheduling; past the ceiling per-task state grows
    * linearly again — the graceful end of the envelope, reached only
    * beyond 64M rows per core. */
  def pairWidth(spark: org.apache.spark.sql.SparkSession, volumeRows: Long,
      floor: Int, rowsPerTask: Long = 1000000L): Int = {
    val cores = spark.sparkContext.defaultParallelism
    val sized = (volumeRows + rowsPerTask - 1) / rowsPerTask
    math.max(floor.toLong, math.min(64L * cores, sized)).toInt
  }

  /** Session a loop's rounds execute under: same SparkContext and shared
    * CacheManager (pins made here are visible to the parent and vice
    * versa — SharedState owns the cache), but exchanges default to
    * `width` partitions and ADAPTIVE EXECUTION OFF. AQE exists to
    * re-plan shapes the planner can't know; a fixed-round loop's shape
    * is chosen by the operator author (stationary partitioned operand,
    * node-sized rank exchanges, explicit broadcast hints where a side is
    * bounded), and AQE's per-exchange query-stage materialization adds a
    * driver barrier + scheduling round-trip per shuffle per round — at
    * node-sized volumes that overhead IS the round. Sessions are memoized
    * per (parent, width) so repeated operator calls share one clone.
    *
    * A new clone costs no recompilation. The session factory turns
    * artifact isolation off (`CliUtil.confs`), so clones share the
    * parent's executor class loader and with it Spark's codegen cache,
    * which is keyed by (class loader, code). With isolation on (Spark
    * 4.1's default), each clone would recompile every round's classes. The
    * reuse is of compiled code, JVM-wide like the JIT's, not of results,
    * so a warm loop served by it needs no reuse label. Class names omit
    * the codegen stage id, which differs per round of a loop run as one
    * plan: with it, each round would compile its own copy of each class. */
  private val tunedSessions = scala.collection.mutable.HashMap
    .empty[(org.apache.spark.sql.SparkSession, Int),
      org.apache.spark.sql.SparkSession]
  def loopSession(parent: org.apache.spark.sql.SparkSession,
      width: Int): org.apache.spark.sql.SparkSession =
    tunedSessions.synchronized {
      tunedSessions.getOrElseUpdate((parent, width), {
        val s = parent.newSession()
        s.conf.set("spark.sql.shuffle.partitions", width.toString)
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.codegen.useIdInClassName", "false")
        s
      })
    }

  /** [[loopSession]] + [[SqlBridge.rebind]] over the loop's input frames:
    * returns the tuned frames (all actions on plans derived from them run
    * at loop width). Callers rebind every input ONCE at operator entry so
    * no round mixes sessions. */
  def tunedInputs(width: Int, frames: DataFrame*): Seq[DataFrame] = {
    require(frames.nonEmpty)
    val tuned = loopSession(frames.head.sparkSession, width)
    frames.map(org.apache.spark.sql.graftbridge.SqlBridge.rebind(_, tuned))
  }

  /** Inverse of [[tunedInputs]] at operator EXIT: when `df` is bound to
    * a tuned loop session, rebind it to that session's parent so the
    * tuned conf (fixed loop width, adaptive execution off) is scoped
    * strictly to the loop's own rounds. Without this, any plan a caller
    * composes ON the result — a join against a corpus-sized table, a
    * downstream aggregation — silently executes 1-wide with AQE off.
    * No-op for frames already on a parent session. The result stays
    * cache-compatible: CacheManager matches by canonicalized plan,
    * which rebinding does not change. */
  def untuned(df: DataFrame): DataFrame =
    tunedSessions.synchronized {
      tunedSessions.collectFirst {
        case ((parent, _), child) if child eq df.sparkSession => parent
      }
    } match {
      case Some(parent) =>
        org.apache.spark.sql.graftbridge.SqlBridge.rebind(df, parent)
      case None => df
    }

  /** Operator epilogue: pin + force the final `result`, then release the
    * operator's internal `anchors` (edge tables, token streams, …). The
    * caller gets a materialized table; the operator leaves exactly one
    * live cache entry behind.
    *
    * Idempotent re-invocation: when the result plan is already pinned
    * (this operator ran before in the session and nothing dropped its
    * final), skip the force entirely and just release the anchors' lazy
    * persist marks — execution will substitute the live cache. This is
    * what keeps warm re-runs warm AFTER the anchor cleanup: without the
    * probe, releasing internals would make every re-invocation re-drive
    * the whole pipeline that the still-pinned final already answers. */
  def finish(result: DataFrame, anchors: DataFrame*): DataFrame = {
    if (!cached(result)) {
      result.persist(StorageLevel.MEMORY_AND_DISK)
      result.count()
    }
    anchors.foreach(_.unpersist(blocking = false))
    // loop-tuned operators: hand the caller a PARENT-session frame (the
    // tuned conf must not leak into downstream plans — see [[untuned]])
    untuned(result)
  }
}
