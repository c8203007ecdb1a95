package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Common-neighbor link prediction — "which non-adjacent node pairs are
  * most likely to connect next" — over an ordered (u < v, unique) edge
  * set, typically the deterministically sparsified graph from
  * [[TriangleCensus.topKNeighborEdges]].
  *
  * Score: the shared-neighbor count (exact integer) plus the neighborhood
  * Jaccard |N(a)∩N(b)| / (|N(a)| + |N(b)| − |N(a)∩N(b)|) — a SINGLE IEEE
  * division of two exact integers, so the score is bit-reproducible
  * across engines (the cross-engine rule every float output here
  * follows). Ranking ties break on the integer pair (common desc, a, b),
  * never on the float.
  *
  * Scale shape: candidate generation is one wedge expansion — Σ C(deg,2)
  * pairs, linear in the corpus for a degree-capped graph (measured: the
  * top-10 co-purchase graph holds 10.5M → 105M → 1.05B wedges across
  * sf0.1/sf1/sf10, exactly 10× per decade). That one pair-keyed shuffle
  * is the operator's unavoidable cost, and it is the ONLY corpus-sized
  * exchange in the plan:
  *
  *   - the distance-2 exclusion rides the same aggregation as a per-pair
  *     edge mark (edge rows union in before the shuffle, so "is this
  *     candidate already an edge" is a max() in the same pass — no
  *     billion-row sort-merge anti join);
  *   - the exchange is an explicit `repartition(n, pair)` sized from the
  *     EXACT wedge volume Σ C(dg,2) (one narrow aggregate over the
  *     node-sized degree table, memoized via [[LoopCache.pinnedRow]]),
  *     shipping raw marked rows — no map-side partial-agg hash map to
  *     outgrow its memory grant, and a reduce side whose complete
  *     aggregation holds ~[[PairRowsPerTask]] rows per task;
  *   - the top-N cut runs directly on the aggregate output as a
  *     TakeOrderedAndProject (per-partition top-N, N-row driver merge),
  *     and degrees/jaccard join only the N surviving rows;
  *   - when every node id fits in 31 bits (checked from the same pinned
  *     stats row), the pair travels as ONE packed long — a primitive
  *     array expansion with no per-pair row allocation, one 8-byte
  *     grouping key, ~40% less shuffle — falling back to the (a, b)
  *     struct form for wider ids, bit-identical either way.
  *
  * The r17 shape — map-side partial agg + anti join + two degree joins
  * over the full candidate set before the limit — spilled 105 GB on
  * each side of its 32-partition aggregation at the sf10 replica and
  * ran 17.7× per decade at the sf1→sf10 step; this shape spills zero
  * and is wedge-linear end to end.
  */
object LinkPredict {

  /** Rows per aggregation task the exchange sizing targets: ~4M pair
    * rows bound the per-task hash map near 400 MB even when every pair
    * is distinct, comfortably under a fair execution-memory grant — the
    * constant that keeps the pair aggregation spill-free at any SF. */
  private val PairRowsPerTask = 4L * 1000 * 1000

  /** One narrow aggregate over the node-sized degree table: the exact
    * wedge volume Σ dg·(dg−1)/2 (sizes the pair exchange) and the id
    * range (selects the packed-pair fast path). Pinned, so repeated
    * invocations on the same graph read the cached row. */
  private[graft] def graphStats(deg: DataFrame): (Long, Boolean) = {
    val r = LoopCache.pinnedRow(deg.select(
      sum(col("dg") * (col("dg") - lit(1L))).as("w"),
      min(col("n")).as("mn"), max(col("n")).as("mx")))
    if (r.isNullAt(0)) (0L, true)
    // halved on the driver: Spark's `/` on integral operands returns
    // DOUBLE, and the exact integer matters here
    else (r.getLong(0) / 2, r.getLong(1) >= 0L && r.getLong(2) < (1L << 31))
  }

  private[graft] def nReduceFor(deg: DataFrame, wedgeTotal: Long): Int = {
    val floorParts = deg.sparkSession.sessionState.conf.numShufflePartitions
    math.min(4096L,
      math.max(floorParts.toLong, wedgeTotal / PairRowsPerTask + 1)).toInt
  }

  /** Shared tail: degrees + jaccard for the N surviving rows only. The
    * N-row side broadcasts into two streaming scans of the node-sized
    * degree table — no shuffle, no sort. */
  private def scoreTop(top: DataFrame, deg: DataFrame): DataFrame = {
    val withDa = deg.select(col("n").as("a"), col("dg").as("da"))
      .join(broadcast(top), Seq("a"))
    deg.select(col("n").as("b"), col("dg").as("db"))
      .join(broadcast(withDa), Seq("b"))
      .select(col("a"), col("b"), col("common_neighbors"),
        (col("common_neighbors").cast("double") /
          (col("da") + col("db") - col("common_neighbors")).cast("double"))
          .as("jaccard"))
      .orderBy(col("common_neighbors").desc, col("a"), col("b"))
  }

  /** Packed fast path: wedge pairs and edge marks travel as one
    * `(a << 32) | b` long (`p`), order-preserving for ids in [0, 2^31).
    * `wedgePacked` emits one `p` row per wedge with a < b. */
  private[graft] def fusedTopPacked(wedgePacked: DataFrame,
      orderedEdges: DataFrame, deg: DataFrame, topN: Int,
      nReduce: Int): DataFrame = {
    val marked = wedgePacked.select(col("p"), lit(0).as("ef"))
      .unionByName(orderedEdges.select(
        (shiftleft(col("u"), 32) + col("v")).as("p"), lit(1).as("ef")))
      .repartition(nReduce, col("p"))
    val top = marked.groupBy(col("p"))
      .agg(sum((lit(1) - col("ef")).cast("long")).as("common_neighbors"),
        max(col("ef")).as("ef"))
      // ef=0 → never an edge; the wedge-row sum > 0 → at least one
      // shared neighbor (an edge-only group sums 0, dropped twice over)
      .filter(col("ef") === 0 && col("common_neighbors") > 0)
      // packed order == (a, b) lexicographic, so the tiebreak matches
      .orderBy(col("common_neighbors").desc, col("p"))
      .limit(topN)
      .select(shiftright(col("p"), 32).as("a"),
        col("p").bitwiseAND(lit(0xFFFFFFFFL)).as("b"),
        col("common_neighbors"))
    scoreTop(top, deg)
  }

  /** Struct fallback for ids outside [0, 2^31): identical semantics,
    * two-column pair key. `wedgePairs` emits one (a, b) row per wedge
    * with a < b. */
  private[graft] def fusedTopStruct(wedgePairs: DataFrame,
      orderedEdges: DataFrame, deg: DataFrame, topN: Int,
      nReduce: Int): DataFrame = {
    val marked = wedgePairs.select(col("a"), col("b"), lit(0).as("ef"))
      .unionByName(orderedEdges.select(col("u").as("a"), col("v").as("b"),
        lit(1).as("ef")))
      .repartition(nReduce, col("a"), col("b"))
    val top = marked.groupBy(col("a"), col("b"))
      .agg(sum((lit(1) - col("ef")).cast("long")).as("common_neighbors"),
        max(col("ef")).as("ef"))
      .filter(col("ef") === 0 && col("common_neighbors") > 0)
      .select(col("a"), col("b"), col("common_neighbors"))
      .orderBy(col("common_neighbors").desc, col("a"), col("b"))
      .limit(topN)
    scoreTop(top, deg)
  }

  /** Top-`topN` non-adjacent pairs by common-neighbor count, served from
    * a STAGED adjacency layout (id, sorted nbrs array) + the ordered edge
    * set `orderedEdges(u, v)` (u < v, unique). Returns (a, b,
    * common_neighbors, jaccard), ordered by (common desc, a, b).
    * Candidate pairs come from a codegen'd per-row C(deg,2) expansion
    * (functions/Combinations2) instead of a wedge self-join — the same
    * Σ C(deg,2) candidates, but the adjacency streams once with no join
    * build side, and degrees are `size(nbrs)` (no aggregate). The specs
    * pin it against the wedge-join formulation. */
  def topCommonNeighborPairsAdj(adj: DataFrame, orderedEdges: DataFrame,
      topN: Int): DataFrame = {
    require(topN >= 1, s"topN=$topN must be >= 1")
    val a = adj.select(col("id").cast("long").as("n"),
      col("nbrs").cast("array<long>").as("nbrs"))
    val e = orderedEdges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val deg = a.select(col("n"), size(col("nbrs")).cast("long").as("dg"))
    val (wedgeTotal, packable) = graphStats(deg)
    val nReduce = nReduceFor(deg, wedgeTotal)
    val top =
      if (packable) fusedTopPacked(
        a.select(explode(graft.functions.Combinations2PackedExpression
          .combinations2Packed(col("nbrs"))).as("p")),
        e, deg, topN, nReduce)
      else fusedTopStruct(
        a.select(explode(graft.functions.Combinations2Expression
            .combinations2(col("nbrs"))).as("pr"))
          .select(col("pr.a").as("a"), col("pr.b").as("b")),
        e, deg, topN, nReduce)
    if (LoopCache.cached(top)) return top
    LoopCache.finish(top)
  }
}
