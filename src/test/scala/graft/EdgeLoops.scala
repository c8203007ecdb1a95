package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Adjacency, Bfs, KCore, LabelPropagation, PageRank,
  ShortestPath, TriangleCensus}

/** Edge-list entry points for the adjacency loops: each builds the layout
  * its loop takes from `edges(srcCol, dstCol)` rows with [[Adjacency]]
  * and runs the loop. Specs feed small edge lists through these; the
  * queries pass staged layouts to the loops directly. Duplicate edges
  * keep their multiplicity. */
object EdgeLoops {

  /** [[PageRank.fixedPointAdj]] over the directed layout of `edges`:
    * (id, rank_tokens) for every node that appears as a source or a
    * target. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, initTokens: Long = PageRank.AutoTokens,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val e = Adjacency.arcs(edges, srcCol, dstCol)
    PageRank.fixedPointAdj(Adjacency.directed(e), Adjacency.nodes(e),
      iterations, initTokens, dampNum, dampDen)
  }

  /** [[PageRank.personalizedAdj]] over the directed layout of `edges`. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int = 5, initTokens: Long = PageRank.AutoTokens,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame =
    PageRank.personalizedAdj(
      Adjacency.directed(Adjacency.arcs(edges, srcCol, dstCol)),
      seeds, seedCol, iterations, initTokens, dampNum, dampDen)

  /** [[Bfs.levelsAdj]] over the forward neighbor lists of DIRECTED
    * `edges`: (id, level) for reached nodes. */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int = 3): DataFrame =
    Bfs.levelsAdj(Adjacency.neighbors(Adjacency.arcs(edges, srcCol, dstCol),
      "src", "dst"), seeds, seedCol, rounds)

  /** [[ShortestPath.distancesAdj]] over the weighted forward lists of
    * `edges(srcCol → dstCol, weightCol)`: (id, cost). */
  def ssspDistances(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int = 3): DataFrame =
    ShortestPath.distancesAdj(Adjacency.neighbors(edges.select(
        col(srcCol).cast("long").as("src"),
        struct(col(dstCol).cast("long").as("d"),
          col(weightCol).cast("long").as("w")).as("nb")), "src", "nb"),
      seeds, seedCol, rounds)

  /** [[LabelPropagation.communitiesAdj]] over UNDIRECTED `edges` (each
    * pair once; a pair listed twice, in either orientation, counts
    * once): (id, community). */
  def lpaCommunities(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 4): DataFrame =
    LabelPropagation.communitiesAdj(Adjacency.undirected(
        Adjacency.arcs(edges, srcCol, dstCol), "src", "dst")
      .select(col("id"), array_distinct(col("nbrs")).as("nbrs")), rounds)

  /** [[KCore.survivorsAtMeanFractionAdj]] over symmetric `edges`. */
  def kCoreAtMeanFraction(edges: DataFrame, srcCol: String,
      dstCol: String, num: Long, den: Long, rounds: Int): DataFrame =
    KCore.survivorsAtMeanFractionAdj(
      Adjacency.directed(Adjacency.arcs(edges, srcCol, dstCol)), num, den,
      rounds)

  /** [[TriangleCensus.topKNeighborEdgesFromCounts]] over raw occurrence
    * pairs (duplicates = multiplicity): (u, v) with u < v. */
  def topKNeighborEdges(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    val m = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("x"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("m"))
    TriangleCensus.topKNeighborEdgesFromCounts(m, "x", "y", "m", k)
  }
}
