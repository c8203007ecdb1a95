package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Triangle census over a weighted co-occurrence graph — the clustering
  * signal behind "tightly-bundled items / communities", computed on a
  * deterministically SPARSIFIED graph.
  *
  * Why sparsify first: a raw co-occurrence graph has hub nodes (a part
  * co-bought with everything), and the wedge join's cost is Σ deg² — at
  * corpus scale the hubs alone blow it up. Keeping each node's top-k
  * strongest neighbors (by co-occurrence multiplicity, id tiebreak) caps
  * the degree, so wedges ≤ n·k² whatever the raw degree distribution —
  * the standard practice before triangle counting at scale, and fully
  * deterministic, so the census stays oracle-replayable.
  *
  * Counting uses the ordered-edge identity: with every edge stored once
  * as (u < v), each triangle a<b<c is found exactly once by joining
  * wedge legs (a,b)+(b,c) and closing with a semi join on (a,c). All
  * shuffles are id-keyed integer pairs; counts are exact.
  */
object TriangleCensus {

  /** Undirected top-k neighbor edges: per node keep the k strongest
    * neighbors, then an undirected edge survives if EITHER endpoint kept
    * it. Returns (u, v) with u < v, deduplicated. Starts from
    * PRE-AGGREGATED pair counts (`srcCol < dstCol` unique, `cntCol` =
    * multiplicity) — the staged
    * co-occurrence artifact (Tables.copurchasePairCounts), so consumers
    * never re-shuffle the raw pair stream per query. */
  def topKNeighborEdgesFromCounts(counts: DataFrame, srcCol: String,
      dstCol: String, cntCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val m = counts.select(col(srcCol).cast("long").as("x"),
      col(dstCol).cast("long").as("y"), col(cntCol).as("m"))
    val nbrs = m.select(col("x").as("src"), col("y").as("dst"), col("m"))
      .union(m.select(col("y"), col("x"), col("m")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("m").desc, col("dst"))
    nbrs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
  }

  /** Per-node triangle participation counts over an ordered edge set
    * (u < v, unique): wedge join on the shared middle vertex + closing
    * semi join, then each triangle credits its three corners.
    * Returns (id, n_triangles) for nodes in ≥ 1 triangle. */
  def perNodeTriangles(orderedEdges: DataFrame): DataFrame = {
    val e = orderedEdges.select(col("u"), col("v"))
    val wedges = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val tris = wedges.join(e,
      wedges("a") === e("u") && wedges("c") === e("v"), "left_semi")
    val out = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    // probe-or-pin (LoopCache): the edge set is referenced three times
    // (both wedge legs + the closing semi join), so pin it for the single
    // drive — without it the sparsification window re-runs three times —
    // and keep only the node-sized census pinned for warm re-invocations
    if (LoopCache.cached(out)) return out
    e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    LoopCache.finish(out, e)
  }
}
