package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by parallel peeling: repeatedly drop nodes whose
  * degree in the surviving induced subgraph falls below the threshold.
  * After enough rounds the survivor set is THE k-core (the maximal
  * subgraph where every node has ≥ k neighbors inside it); a bounded
  * round count makes the operator deterministic and oracle-replayable
  * (unrolled CTEs), matching the fixed-round contract of Bfs/PageRank.
  *
  * All-integer state (node ids + degree counts), so results are
  * bit-reproducible regardless of partitioning or cluster size.
  *
  * Scale shape: one loop, over a symmetric ADJACENCY layout (src,
  * outdeg, sorted dsts), hash-partitioned + sorted once and never moved.
  * Per round the node-sized alive table joins it co-partitioned, the
  * edge fanout happens inside a codegen'd explode feeding a partial
  * aggregate (alive-neighbor counts), and the both-endpoints-alive rule
  * is a co-partitioned node-sized semi-join — so a round's only exchange
  * is node-sized, at the loop-tuned width; only the 1-row threshold
  * broadcasts. (An edge-row peel needs a per-round dst-side alive
  * semi-join, which re-shuffles and re-sorts the FULL edge table once
  * the alive set outgrows the broadcast estimate: measured supralinear
  * at 100× the bench corpus, 5.4 s at 2.4M edges → ~102 s at 239M.) The
  * threshold is either a fixed k or derived from the round-0 degrees
  * (num·meanDegree/den, exact integer division) on the operator's own
  * pinned table. The edge-list entry point ([[survivors]]) builds the
  * layout with [[Adjacency]] and runs the same loop.
  */
object KCore {

  /** Survivor table (id, degree) after `rounds` peels at fixed
    * threshold `k`. `edges` must be symmetric (both directions present)
    * — the co-purchase-graph convention ([[graft.Tables]]); duplicate
    * edges count once per row in a degree. Runs [[survivorsAdj]] over
    * the layout [[Adjacency]] builds. */
  def survivors(edges: DataFrame, srcCol: String, dstCol: String,
      k: Long, rounds: Int): DataFrame =
    survivorsAdj(Adjacency.directed(Adjacency.arcs(edges, srcCol, dstCol)),
      k, rounds)

  /** [[survivors]] over a symmetric adjacency (src, outdeg, sorted
    * dsts), e.g. the staged Tables.copurchaseAdjacency. */
  def survivorsAdj(adj: DataFrame, k: Long, rounds: Int): DataFrame =
    runAdj(adj, rounds, Seq("k", k),
      d0 => d0.sparkSession.range(1).select(lit(k).cast("long").as("k")))

  /** Survivors at the scale-adaptive threshold k = num·(mean degree)/den
    * (truncating integer division — replayable in any engine) over the
    * symmetric adjacency (round-0 degrees are its outdeg column). */
  def survivorsAtMeanFractionAdj(adj: DataFrame, num: Long, den: Long,
      rounds: Int): DataFrame =
    runAdj(adj, rounds, Seq("frac", num, den), deg0 => deg0.agg(expr(
      s"CAST(sum(degree) * $num DIV (count(1) * $den) AS BIGINT)").as("k")))

  /** The peeling loop. Degree is the induced-subgraph degree: on a
    * SYMMETRIC adjacency, u's degree among alive nodes = the number of
    * alive sources v whose neighbor lists contain u, intersected with
    * u's own aliveness. */
  private def runAdj(adj: DataFrame, rounds: Int, keyTag: Seq[Any],
      threshold: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    // rounds are pinned and re-rooted (LoopCache.pinnedRounds: a
    // high-layering graph peels one layer per round), so the threshold
    // parameters ride the memo key (`keyTag`) in place of plan identity;
    // warm re-invocations return the memoized final
    LoopCache.memo(Seq("kcore-adj", LoopCache.planKey(adj), rounds) ++ keyTag) {
      val (_, a, _) = Adjacency.pinDirected(adj)
      // round 0: every node with its full-graph degree — a projection of
      // the adjacency, no aggregate at all (it already carries outdeg).
      // Its seed is an empty frame that was never pinned.
      val empty = a.limit(0)
      val (alive0, pinned0) = LoopCache.pinnedRounds(empty, empty, 1)(_ =>
        a.select(col("src").as("id"), col("outdeg").as("degree")))
      // one row; broadcast so the per-round filter is a map-side compare.
      // Pinned + forced while round 0 is still live, so the derivation
      // reads its cache instead of re-running the round-0 projection
      // from lineage once per round.
      val kdfF = threshold(alive0)
      kdfF.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kdfF.head()
      val kdf = broadcast(kdfF)
      // each round releases the previous PINNED frame, round 0's too
      val (alive, _) = LoopCache.pinnedRounds(alive0, pinned0, rounds) { prev =>
        a.join(prev.select(col("id")), col("src") === col("id"))
          .select(explode(col("dsts")).as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("degree"))
          .join(prev.select(col("id")), Seq("id"), "left_semi")
          .crossJoin(kdf).filter(col("degree") >= col("k"))
          .select(col("id"), col("degree"))
      }
      // final survivors were pinned by the last round — the threshold row
      // and the adjacency anchor are no longer load-bearing
      kdfF.unpersist(blocking = false)
      a.unpersist(blocking = false)
      LoopCache.untuned(alive)
    }
  }
}
