package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * min-combines map-side. [[Bfs]] runs the same loop with a unit
  * step. Rounds are pinned and re-rooted by
  * [[LoopCache.pinnedRounds]], so depth is limited by data, not by
  * Catalyst planning. Warm re-invocations return the memoized frame
  * ([[LoopCache.memo]]): zero jobs, zero new cache entries; an
  * invocation leaves exactly one live entry (the final distance table),
  * the same O(1) contract the other loops pin in their specs.
  */
object ShortestPath {

  /** The relaxation loop over a weighted ADJACENCY layout — (id, nbrs)
    * with nbrs an array of (d, w) structs: per relaxation the distance
    * frontier joins the node-sized adjacency and edges fan out inside a
    * codegen'd explode (see PageRank.fixedPointAdj). */
  def distancesAdj(adj: DataFrame, seeds: DataFrame, seedCol: String,
      rounds: Int = 3): DataFrame =
    relaxAdj("sssp-adj", adj, col("nbrs"), seeds, seedCol, "cost", rounds)(
      _.select(col("cost"), explode(col("nbrs")).as("nb"))
        .select(col("nb.d").as("id"), (col("cost") + col("nb.w")).as("cost")))

  /** The min-relaxation loop of [[distancesAdj]] and [[Bfs.levelsAdj]]
    * over an ADJACENCY layout (id, `nbrs`): `seeds` start at 0 in column
    * `value`, and each round min-combines the table with `fanOut` of its
    * join against the adjacency (BIGINT src, nbrs) on `src === id`,
    * which yields (id, `value`) per reached neighbor. `tag` names the
    * caller in the memo key. */
  private[operators] def relaxAdj(tag: String, adj: DataFrame, nbrs: Column,
      seeds: DataFrame, seedCol: String, value: String, rounds: Int)(
      fanOut: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val a0 = adj.select(col("id").cast("long").as("src"), nbrs)
    val s0 = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .select(col("id"), lit(0L).as(value))
    LoopCache.memo(
      Seq(tag, LoopCache.planKey(a0), LoopCache.planKey(s0), rounds)) {
      val (_, _, Seq(a), Seq(s0T)) = Adjacency.pin("src", "nbrs", Seq(a0), s0)
      val (last, _) = LoopCache.pinnedRounds(s0T, s0T, rounds)(prev =>
        prev.unionByName(fanOut(a.join(prev, col("src") === col("id"))))
          .groupBy(col("id")).agg(min(col(value)).as(value)))
      a.unpersist(blocking = false) // the final is materialized; adjacency done
      LoopCache.untuned(last)
    }
  }
}
