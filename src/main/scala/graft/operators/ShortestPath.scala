package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.storage.StorageLevel

/** Bounded-hop weighted shortest paths — Bellman-Ford rounds on the
  * min-plus semiring, the weighted sibling of [[Bfs]] (hop levels) in
  * the iterative-graph family. `rounds` relaxations give the exact
  * cheapest cost over paths of ≤ `rounds` edges; with rounds ≥ |V|−1 and
  * non-negative weights that is THE shortest path, but the bounded form
  * is the honest distributed contract — the caller picks the hop budget
  * and the cost model stays `rounds` × (edge join + min-aggregate).
  *
  * Exactness: costs are BIGINT sums of BIGINT weights along a path and
  * per-node `min` — both order-invariant, so every round is
  * bit-reproducible on any cluster and the DuckDB oracle replays the
  * loop as unrolled CTEs. No floats anywhere (the engine's iterative
  * rule). Overflow: caller guarantees `max_weight · rounds` fits BIGINT
  * — with cent-scale weights that is ~10^14 hops of headroom.
  *
  * Scale shape: one loop, over a weighted ADJACENCY layout — (id, nbrs)
  * with nbrs an array of (d, w) structs, src-partitioned and pinned once
  * per cold invocation; each round joins the node-sized frontier (dist
  * table) against it, fans the edges out inside a codegen'd explode and
  * min-combines map-side. The edge-list entry point ([[distances]])
  * builds the layout with [[Adjacency]] and runs the same loop. Round
  * plans are RE-ROOTED on their pinned RDDs
  * ([[SqlBridge.reRoot]]) so the logical plan never nests across rounds
  * — depth is limited by data, not by Catalyst plan rendering (the
  * [[Hits]] lesson). Warm re-invocations return the memoized frame
  * ([[LoopCache.memo]]): zero jobs, zero new cache entries; an
  * invocation leaves exactly one live entry (the final distance table),
  * the same O(1) contract the other loops pin in their specs.
  */
object ShortestPath {

  /** Cheapest ≤`rounds`-hop cost from any seed to every reached node,
    * over `edges(srcCol → dstCol, weightCol)` with non-negative BIGINT
    * weights. Seeds start at cost 0 (min wins if a seed is also
    * reachable). Returns (id, cost). Runs [[distancesAdj]] over the
    * weighted neighbor list [[Adjacency]] builds. */
  def distances(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int = 3): DataFrame =
    distancesAdj(Adjacency.neighbors(edges.select(
        col(srcCol).cast("long").as("src"),
        struct(col(dstCol).cast("long").as("d"),
          col(weightCol).cast("long").as("w")).as("nb")), "src", "nb"),
      seeds, seedCol, rounds)

  /** The relaxation loop over a weighted ADJACENCY layout — (id, nbrs)
    * with nbrs an array of (d, w) structs: per relaxation the distance
    * frontier joins the node-sized adjacency and edges fan out inside a
    * codegen'd explode (see PageRank.fixedPointAdj). */
  def distancesAdj(adj: DataFrame, seeds: DataFrame, seedCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val a0 = adj.select(col("id").cast("long").as("src"), col("nbrs"))
    val s0 = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .select(col("id"), lit(0L).as("cost"))
    LoopCache.memo(
      Seq("sssp-adj", LoopCache.planKey(a0), LoopCache.planKey(s0), rounds)) {
      // loop-tuned width + static rounds over a src-partitioned stationary
      // operand (see LoopCache.loopSession); the edge volume comes from a
      // staged layout's parquet footers, else from one aggregate query
      // (FooterCounts)
      val w = LoopCache.loopWidth(adj.sparkSession,
        FooterCounts(a0, Some("nbrs")).arrayLength)
      val Seq(aT, s0T) = LoopCache.tunedInputs(w, a0, s0)
      val a = aT.repartition(w, col("src")).sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      var dist = s0T
      var pinnedPrev = s0T // seed table: step's release is a no-op
      for (_ <- 1 to rounds) {
        val relaxed = a.join(dist, col("src") === col("id"))
          .select(col("cost"), explode(col("nbrs")).as("nb"))
          .select(col("nb.d").as("id"), (col("cost") + col("nb.w")).as("cost"))
        val pinned = LoopCache.step(
          dist.unionByName(relaxed)
            .groupBy(col("id")).agg(min(col("cost")).as("cost")),
          pinnedPrev)
        dist = SqlBridge.reRoot(pinned)
        pinnedPrev = pinned
      }
      a.unpersist(blocking = false) // final dist is materialized; adjacency done
      LoopCache.untuned(dist)
    }
  }
}
