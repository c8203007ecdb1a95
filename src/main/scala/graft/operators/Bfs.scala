package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import org.apache.spark.sql.graftbridge.SqlBridge

/** Bounded-round distributed BFS — hop distances from a seed set, the
  * reachability/distance member of the iterative-graph family
  * ([[PageRank]]: mass, [[LabelPropagation]]: communities, this:
  * distance). Integer levels with a min-aggregate per round: exact,
  * order-invariant, replayable by unrolled CTEs.
  *
  * One loop, over an ADJACENCY layout (id, sorted nbrs array). Per
  * round: one frontier⋈adjacency join against the cached pre-partitioned
  * layout, the edge fanout inside a codegen'd explode, and one (id, min
  * level) aggregate — the level table holds REACHED nodes only, so early
  * rounds shuffle frontier-sized data, and an unreached node simply
  * never appears (no dense node table). Rounds are fixed (k-hop
  * neighborhood semantics), not run-to-convergence: the caller picks
  * the radius, the cost model stays predictable.
  *
  * DEEP-ROUNDS SAFE (round 14): BFS and [[ShortestPath]] are the two
  * loop operators whose round count legitimately scales with GRAPH
  * DIAMETER (a caller probing a bridge-chained or road-network-shaped
  * graph needs rounds ≈ diameter), so like SSSP each round is pinned
  * AND re-rooted ([[SqlBridge.reRoot]]): the SQL plan never nests
  * across rounds while the RDD lineage stays intact (eviction
  * recomputes — the ResilienceSpec contract). The previous
  * plan-identity warm probe kept full plan nesting and its
  * per-round planning cost grew superlinearly past ~10 rounds
  * (measured on the skewed replica corpus: 1.9 s/round at 8 rounds,
  * 14.5 s/round at 12, unusable at 20 — SCALE.md round 14); warm
  * re-invocations now return the memoized final ([[LoopCache.memo]],
  * the HITS/SSSP/ConnectedComponents pattern): zero jobs, zero new
  * cache entries. As of round 16 EVERY caller-budgeted loop operator
  * uses this pattern — the k-core adjacency peel migrated in r14,
  * `PageRank.fixedPoint` in r15, and the remaining PageRank variants
  * (fixedPointAdj / personalized / personalizedAdj) plus both
  * LabelPropagation layouts in r16 — so no round budget a user can
  * pass reaches the nested-plan planning cliff. */
object Bfs {

  /** Hop levels from `seeds` within `rounds` hops over DIRECTED edges
    * (pass both orientations for undirected semantics). Returns
    * (id, level) for reached nodes; seeds are level 0 even when also
    * reachable by a longer path (min wins). Runs [[levelsAdj]] over the
    * forward neighbor list [[Adjacency]] builds. */
  def levels(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int = 3): DataFrame =
    levelsAdj(Adjacency.neighbors(Adjacency.arcs(edges, srcCol, dstCol),
      "src", "dst"), seeds, seedCol, rounds)

  /** The BFS loop over an ADJACENCY layout (id, sorted nbrs array): per
    * round the frontier joins the node-sized adjacency and the edge
    * fanout happens inside a codegen'd explode — no edge-row cache scan
    * per round (see PageRank.fixedPointAdj for the cost argument). */
  def levelsAdj(adj: DataFrame, seeds: DataFrame, seedCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val a0 = adj.select(col("id").cast("long").as("src"),
      col("nbrs").cast("array<long>").as("nbrs"))
    val s0 = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .select(col("id"), lit(0L).as("level"))
    LoopCache.memo(
      Seq("bfs-adj", LoopCache.planKey(a0), LoopCache.planKey(s0), rounds)) {
      // loop-tuned width + static rounds over a src-partitioned stationary
      // operand (see LoopCache.loopSession); the edge volume comes from a
      // staged layout's parquet footers, else from one aggregate query
      // (FooterCounts)
      val w = LoopCache.loopWidth(adj.sparkSession,
        FooterCounts(a0, Some("nbrs")).arrayLength)
      val Seq(aT, s0T) = LoopCache.tunedInputs(w, a0, s0)
      val a = aT.repartition(w, col("src")).sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      var lv = s0T
      var pinnedPrev = s0T // seed table: step's release is a no-op
      for (_ <- 1 to rounds) {
        val next = a.join(lv, col("src") === col("id"))
          .select((col("level") + 1L).as("level"),
            explode(col("nbrs")).as("id"))
          .select(col("id"), col("level"))
        // PIN each round, RELEASE the previous (LoopCache.step): the
        // level table is referenced twice per round (kept side of the
        // union + the next frontier join), so an uncached formulation
        // doubles the plan tree every round — 2^rounds re-executions
        // (measured: 48 s for 3 rounds at sf0.1, 2 s cached). reRoot
        // bounds the SQL-plan depth; lineage is kept.
        val pinned = LoopCache.step(
          lv.unionByName(next)
            .groupBy(col("id")).agg(min(col("level")).as("level")),
          pinnedPrev)
        lv = SqlBridge.reRoot(pinned)
        pinnedPrev = pinned
      }
      a.unpersist(blocking = false) // final lv is materialized; adjacency done
      LoopCache.untuned(lv)
    }
  }
}
