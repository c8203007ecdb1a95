package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The adjacency layouts the iterative graph operators loop over, built
  * from edge rows: one row per node with its neighbors packed into a
  * sorted array. Per round a loop then joins |nodes| rows and fans the
  * edges out inside a codegen'd explode, instead of scanning one row per
  * edge (see [[PageRank.fixedPointAdj]]). The staged graph tables
  * ([[graft.Tables]]) and the edge-list entry points
  * ([[Hits.scores]], [[KCore.survivors]]) build their layouts here.
  *
  * Duplicate edges keep their multiplicity: `collect_list` keeps every
  * row, so a doubled edge appears twice in its neighbor array (and
  * twice in `outdeg`). */
object Adjacency {

  /** BIGINT (src, dst) projection of `edges(srcCol, dstCol)` — the
    * common first step of an edge-list entry point. */
  def arcs(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))

  /** Directed (src, outdeg, dsts) over (src, dst) rows. A precomputed
    * `outdeg` column (the staged degree artifact,
    * [[graft.Tables.copurchaseEdgesWithDeg]]) is kept as it is;
    * otherwise `outdeg` counts each source's edge rows. */
  def directed(edges: DataFrame): DataFrame =
    if (edges.columns.contains("outdeg"))
      edges.groupBy(col("src"), col("outdeg")).agg(sorted(col("dst")).as("dsts"))
    else
      edges.groupBy(col("src"))
        .agg(count(lit(1)).as("outdeg"), sorted(col("dst")).as("dsts"))

  /** Node ids of (src, dst) rows: sources ∪ targets, distinct. */
  def nodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()

  /** (id, nbrs): each `key` value with its sorted `nbr` values. Over
    * (src, dst) rows `neighbors(e, "src", "dst")` is the forward list,
    * `neighbors(e, "dst", "src")` the reverse one. */
  def neighbors(edges: DataFrame, key: String, nbr: String): DataFrame =
    edges.groupBy(col(key).as("id")).agg(sorted(col(nbr)).as("nbrs"))

  /** Undirected (id, nbrs) over (a, b) pairs: each pair lists each end
    * as the other's neighbor. */
  def undirected(edges: DataFrame, a: String, b: String): DataFrame =
    pack(edges.select(col(a).as("id"), col(b).as("nb"))
      .union(edges.select(col(b).as("id"), col(a).as("nb"))))

  /** Weighted undirected (id, nbrs) over (a, b, w) rows: `nbrs` holds
    * sorted (d, w) structs, each row an arc both ways. (A directed
    * weighted list is [[neighbors]] over a (d, w) struct column.) */
  def undirectedWeighted(edges: DataFrame, a: String, b: String,
      w: String): DataFrame =
    pack(weightedArcs(edges, a, b, w)
      .unionByName(weightedArcs(edges, b, a, w)))

  /** The operand prologue every adjacency loop shares. Each of
    * `operands` (keyed by `key`, with neighbors in array column `array`)
    * is the loop's stationary side: hash-partitioned by the per-round
    * join key and sorted, so no round needs an exchange or a sort on it,
    * and only the node-sized table it joins moves. The width comes from
    * the largest EDGE volume, Σ size(`array`) over one operand, read by
    * [[FooterCounts]]: from the parquet footers of a staged layout, else
    * by one aggregate query. Rounds run at that width with static plans
    * (see LoopCache.loopSession for why adaptive re-planning is the
    * wrong default inside a fixed-shape loop), and `others` come back
    * bound to the same loop session, unpinned. Returns (width, volume,
    * pinned operands, others). */
  private[operators] def pin(key: String, array: String,
      operands: Seq[DataFrame], others: DataFrame*)
      : (Int, Long, Seq[DataFrame], Seq[DataFrame]) = {
    val volume = operands.map(FooterCounts(_, Some(array)).arrayLength).max
    val w = LoopCache.loopWidth(operands.head.sparkSession, volume)
    val (tuned, rest) =
      LoopCache.tunedInputs(w, operands ++ others: _*).splitAt(operands.size)
    (w, volume, tuned.map(_.repartition(w, col(key)).sortWithinPartitions(key)
      .persist(StorageLevel.MEMORY_AND_DISK)), rest)
  }

  /** [[pin]] over directed layout `adj` as BIGINT (src, outdeg, dsts),
    * the operand of PageRank and the k-core peel (Σ size(dsts) equals
    * Σ outdeg on every [[directed]] layout). Returns (width, pinned
    * operand, others). */
  private[operators] def pinDirected(adj: DataFrame, others: DataFrame*)
      : (Int, DataFrame, Seq[DataFrame]) = {
    val (w, _, Seq(a), rest) = pin("src", "dsts",
      Seq(adj.select(col("src").cast("long").as("src"),
        col("outdeg").cast("long").as("outdeg"),
        col("dsts").cast("array<long>").as("dsts"))), others: _*)
    (w, a, rest)
  }

  private def weightedArcs(edges: DataFrame, from: String, to: String,
      w: String): DataFrame =
    edges.select(col(from).as("id"), struct(col(to).as("d"), col(w)).as("nb"))

  private def pack(rows: DataFrame): DataFrame =
    rows.groupBy(col("id")).agg(sorted(col("nb")).as("nbrs"))

  private def sorted(c: Column): Column = sort_array(collect_list(c))
}
