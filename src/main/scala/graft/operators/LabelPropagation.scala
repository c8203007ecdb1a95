package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic label propagation (community detection) — the cheap
  * communities pass between connected components (too coarse: every
  * reachable node merges) and modularity methods (not shuffle-friendly).
  *
  * Classic LPA is notoriously nondeterministic (random update order,
  * random tie-breaks). This variant is exact and reproducible: all nodes
  * update synchronously each round, the new label is the most frequent
  * neighbor label with ties to the SMALLEST label, and the round count is
  * fixed — the same rules an external engine can replay verbatim.
  *
  * One loop, over an undirected ADJACENCY layout (id, sorted nbrs
  * array). Per round: one label⋈adjacency join (the adjacency cached +
  * pre-partitioned, the label table node-sized), a codegen'd explode
  * delivering each label to its neighbors, and a (node, label) count
  * whose argmax runs as a `max(struct(count, −label))` aggregate — the
  * q63 shape — so there is NO per-node ranking window anywhere. Labels
  * start as the node id; isolated nodes never appear (no neighbors → no
  * label source); positive ids required (the argmax negates labels for
  * the tie-break). */
object LabelPropagation {

  /** The LPA loop over an undirected ADJACENCY layout (id, sorted nbrs
    * array): per round labels join the node-sized adjacency and a
    * codegen'd explode delivers each label to its neighbors. Each entry
    * of a neighbor list is one vote, so a caller wanting simple-graph
    * semantics passes duplicate-free lists. Returns (id, community). */
  def communitiesAdj(adj: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    // rounds are pinned and re-rooted (LoopCache.pinnedRounds), and
    // warm re-invocations return the memoized final. Staleness contract:
    // PageRank's object scaladoc.
    LoopCache.memo(Seq("lpaAdj", LoopCache.planKey(adj), rounds)) {
    // loop-tuned width + static rounds over an id-partitioned stationary
    // operand (Adjacency.pin); the pair volume comes from a staged
    // layout's parquet footers, else from one aggregate query
    val (w, pairVolume, Seq(a), _) = Adjacency.pin("nid", "nbrs",
      Seq(adj.select(col("id").cast("long").as("nid"),
        col("nbrs").cast("array<long>").as("nbrs"))))
    // the PAIR exchange is sized from the pair volume itself, NOT capped
    // at the core count (q120's PairRowsPerTask discipline): each round
    // ships Σ deg raw (lab, dst) rows, and the reduce-side (dst, lab)
    // hash map must stay inside one task's fair execution grant even
    // with the pinned adjacency occupying the storage pool — at the sf10
    // replica the 32-wide reduce held ~1.5M-entry maps per task and
    // spilled ~8 GB per round; ~1M rows per task keeps the map tens of
    // MB and spill-free while extra partitions cost only scheduling.
    val pairW = LoopCache.pairWidth(adj.sparkSession, pairVolume, floor = w)
    // most frequent label, ties to the SMALLEST — as the two-level
    // CODEGEN argmax (count per (dst, lab), then max(struct(c, −lab))
    // per dst: the q63 shape), with the
    // q120 exchange discipline: the explode ships RAW (lab, dst) pairs
    // through one explicit dst-keyed repartition, and BOTH aggregates
    // run post-exchange (hash(dst) satisfies each one's clustering, so
    // neither plans its own shuffle). The r17 form collected each
    // node's neighbor labels into a sorted list and scanned it —
    // partial_collect_list is an OBJECT-mode aggregate whose map-side
    // buffers hold the whole edge volume as deserialized arrays:
    // measured at the sf10 replica, every round's map stage spilled
    // ~2.6 GB against a 330 MB shuffle write (guide §5: heavy spill ⇒
    // different operator). A map-side partial count is no better there
    // (nearly every (dst, lab) pair is distinct before convergence —
    // the hash map outgrows its grant; measured 8 GB spill). Raw pairs
    // compress to a comparable shuffle payload, the reduce-side maps
    // are sized by the loop width, and every operator stays in
    // whole-stage codegen. Same labels, same min-label tie-break.
    // the identity seed is a projection of the pinned adjacency, a
    // different plan from `a`, so releasing it is a no-op
    val seed = a.select(col("nid").as("id"), col("nid").as("lab"))
    val (labels, lastPinned) = LoopCache.pinnedRounds(seed, seed, rounds)(
      prev => a.join(prev, col("nid") === col("id"))
        .select(col("lab"), explode(col("nbrs")).as("dst"))
        .repartition(pairW, col("dst"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("best"))
        .select(col("dst").as("id"), (-col("best.nl")).as("lab"))
        // land the round's labels back at loop width w: left at pairW,
        // the next round's rank join would see mismatched partition
        // counts and re-exchange the CACHED ADJACENCY (edge-sized,
        // measured 179 MB/round at the sf10 replica) instead of this
        // node-sized table
        .repartition(w, col("id")))
    LoopCache.finish(labels.select(col("id"), col("lab").as("community")),
      a, lastPinned)
    }
  }
}
