package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.storage.StorageLevel

/** Fixed-point (integer) HITS — hubs & authorities over a directed
  * graph, the mutual-reinforcement member of the iterative-graph family
  * ([[PageRank]]: mass, [[Bfs]]: distance, this: two coupled scores).
  * Natural fit for BIPARTITE graphs (customer→part: hub customers buy
  * authoritative parts), where PageRank's single score conflates the two
  * roles.
  *
  * Exactness: the classic algorithm normalizes float scores by an L2
  * norm every round — cross-row float accumulation, the one thing this
  * engine's iterative numerics never do (reduction order changes run to
  * run on a cluster; see PageRank's scaladoc). Here both scores are
  * BIGINT tokens and the per-round normalization is L∞ (divide by the
  * max), computed DIVIDE-FIRST:
  *
  *   score = raw div max(1, max_raw div scale)
  *
  * so no multiplication ever happens — the operator cannot overflow no
  * matter the graph (raw sums are bounded by edges·scale, i.e. BIGINT
  * holds to ~9·10^12 edges at the default scale). Sums of BIGINT are
  * order-invariant and max/div are exact, so every round is
  * bit-reproducible and replayable by the DuckDB oracle's unrolled CTEs
  * (the global max is one scalar subquery there; here it is read on the
  * driver — a single-row aggregate over the pinned raw table — and baked
  * into the next plan as a LITERAL divisor).
  *
  * Two plan-shape rules keep an N-round run linear, learned the hard
  * way (rounds=4 on a 7-EDGE graph OOM'd an 8g driver before them):
  *
  *  1. The max is a driver-read literal, NOT an in-plan broadcast cross
  *     join — in-plan it references the raw table twice, doubling the
  *     logical tree per half-round (4^rounds nodes), and Catalyst's
  *     per-action analysis over that tree goes superlinear.
  *  2. Each pinned round is RE-ROOTED on its materialized RDD
  *     ([[SqlBridge.reRoot]], the plan-surgery half of
  *     `Dataset.checkpoint`) — otherwise round N's cached plan NESTS
  *     round N−1's, and Spark's per-action plan-string rendering (AQE
  *     renders every nested level twice: final + initial plan) is
  *     exponential in rounds regardless of data size.
  *
  * Scale shape: one loop, over two ADJACENCY layouts — (id, sorted
  * out-neighbor array) per source and (id, sorted in-neighbor array) per
  * target. Per round, one source-adjacency⋈hub join whose explode feeds
  * a per-target sum (the authority update), one target-adjacency⋈
  * authority join feeding a per-source sum (the hub update), and one
  * single-row max per half-round. Every joined operand is node-sized;
  * the edge volume only appears inside the codegen'd explodes. The
  * edge-list entry point ([[scores]]) builds both layouts with
  * [[Adjacency]] and runs the same loop.
  *
  * Cache contract: each half-round pins its raw score table and releases
  * the superseded one; the normalizing divisor rides as a literal into
  * the next half-round's projection. An invocation leaves exactly the
  * hub and authority FINALS live. Warm re-invocations return the
  * memoized result ([[LoopCache.memo]] — required here because every
  * round's literal divisor is data-derived, so the final plan cannot be
  * rebuilt without re-running the loop): zero jobs, zero new entries.
  */
object Hits {

  /** Default token resolution: the per-round max score. */
  val Scale: Long = 1000000L

  /** `rounds` exact HITS iterations over `edges(srcCol → dstCol)`
    * (duplicate edges NOT deduplicated — a doubled edge adds its score
    * twice to both sums; pre-`distinct` a simple graph). Returns (role,
    * id, score): role 'hub' for source-side nodes, 'auth' for
    * target-side, with the per-round max score landing at ~`scale`
    * (divide-first: a round whose max is under 2·scale divides by 1 and
    * keeps raw sums — resolution never shrinks with graph size). Runs
    * [[scoresAdj]] over the two neighbor lists [[Adjacency]] builds. */
  def scores(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3, scale: Long = Scale): DataFrame = {
    val e = Adjacency.arcs(edges, srcCol, dstCol)
    scoresAdj(Adjacency.neighbors(e, "src", "dst"),
      Adjacency.neighbors(e, "dst", "src"), rounds, scale)
  }

  /** The HITS loop over ADJACENCY layouts: `srcAdj` = (id, sorted
    * out-neighbor array) per source, `dstAdj` = (id, sorted in-neighbor
    * array) per target. Each half-round joins the NODE-sized adjacency
    * with the node-sized score table and delivers scores through a
    * codegen'd explode. */
  def scoresAdj(srcAdj: DataFrame, dstAdj: DataFrame,
      rounds: Int = 3, scale: Long = Scale): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    require(scale >= 1, s"scale=$scale must be >= 1")
    val sa0 = srcAdj.select(col("id").cast("long").as("aid"),
      col("nbrs").cast("array<long>").as("nbrs"))
    val da0 = dstAdj.select(col("id").cast("long").as("aid"),
      col("nbrs").cast("array<long>").as("nbrs"))
    LoopCache.memo(Seq("hits-adj", LoopCache.planKey(sa0),
        LoopCache.planKey(da0), rounds, scale)) {
      // loop-tuned width + static half-rounds over aid-partitioned
      // stationary operands (Adjacency.pin); the width comes from the
      // larger adjacency's edge count, since each half-round explodes one
      // side
      val (_, _, Seq(sa, da), _) = Adjacency.pin("aid", "nbrs", Seq(sa0, da0))
      // One half-round: sum incoming scores per target, read the max on
      // the driver (divide-first L∞), pin the raw table, release the
      // superseded one, then re-root on the materialized RDD so the next
      // round's plan starts from a leaf. The NORMALIZED table never
      // materializes — the `div den` rides as a literal inside the NEXT
      // half-round's projection (and the final select), so each
      // half-round is ONE job: the max aggregate, whose scan doubles as
      // the raw table's cache force (at bench scale the loop is job-count
      // bound, not data bound).
      def update(prevRaw: DataFrame, prevDen: Long, adj: DataFrame,
          prevPinned: DataFrame): (DataFrame, Long, DataFrame) = {
        val raw = adj.join(
            prevRaw.select(col("id"), expr(s"r div ${prevDen}L").as("in_s")),
            col("aid") === col("id"))
          .select(col("in_s"), explode(col("nbrs")).as("oid"))
          .groupBy(col("oid")).agg(sum(col("in_s")).as("r"))
          .select(col("oid").as("id"), col("r"))
        raw.persist(StorageLevel.MEMORY_AND_DISK)
        // one job: materializes raw's cache AND reads the max
        val mxRow = raw.agg(max(col("r"))).head()
        val den =
          if (mxRow.isNullAt(0)) 1L else math.max(mxRow.getLong(0) / scale, 1L)
        prevPinned.unpersist(blocking = false)
        (SqlBridge.reRoot(raw), den, raw)
      }
      // seed: every source at `scale` with a unit divisor
      val seed = sa.select(col("aid").as("id"), lit(scale).as("r"))
      var (hubs, hubDen, hubsPinned) = (seed, 1L, seed)
      var (auths, authDen, authsPinned) = (null: DataFrame, 1L, seed)
      for (_ <- 1 to rounds) {
        val (a, ad, ap) = update(hubs, hubDen, sa, authsPinned) // auth ← hubs
        val (h, hd, hp) = update(a, ad, da, hubsPinned)         // hub  ← auths
        auths = a; authDen = ad; authsPinned = ap
        hubs = h; hubDen = hd; hubsPinned = hp
      }
      sa.unpersist(blocking = false)
      da.unpersist(blocking = false)
      LoopCache.untuned(hubs.select(lit("hub").as("role"), col("id"),
          expr(s"r div ${hubDen}L").as("score"))
        .unionByName(auths.select(lit("auth").as("role"), col("id"),
          expr(s"r div ${authDen}L").as("score"))))
    }
  }
}
