package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * The loop is [[ShortestPath.relaxAdj]] with a unit step: hop levels
  * are the min-plus costs of a graph whose every weight is 1. Its
  * rounds are pinned and re-rooted by [[LoopCache.pinnedRounds]], which
  * says why; the round count scales with the graph diameter, and a warm
  * re-invocation returns the memoized final ([[LoopCache.memo]]): zero
  * jobs, zero new cache entries. */
object Bfs {

  /** The BFS loop over an ADJACENCY layout (id, sorted nbrs array): per
    * round the frontier joins the node-sized adjacency and the edge
    * fanout happens inside a codegen'd explode — no edge-row cache scan
    * per round (see PageRank.fixedPointAdj for the cost argument). */
  def levelsAdj(adj: DataFrame, seeds: DataFrame, seedCol: String,
      rounds: Int = 3): DataFrame =
    ShortestPath.relaxAdj("bfs-adj", adj,
      col("nbrs").cast("array<long>").as("nbrs"), seeds, seedCol, "level",
      rounds)(_.select((col("level") + 1L).as("level"),
        explode(col("nbrs")).as("id")).select(col("id"), col("level")))
}
