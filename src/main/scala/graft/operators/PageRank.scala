package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point (integer) PageRank — link-graph centrality with BIGINT
  * "rank tokens" instead of float probabilities.
  *
  * Why integers: classic PageRank accumulates `sum(rank/deg)` in doubles,
  * and float addition is not associative — on a cluster the reduction
  * order changes run to run (partial aggregation, AQE re-splits), so two
  * runs of the same job can disagree in the last ulp and a rank-ordered
  * top-k can flip. Scaling ranks to integer tokens makes every iteration
  * exact: BIGINT sums are order-invariant, so the result is
  * bit-reproducible on 1 core or 1000 executors — and replayable by any
  * other engine (graft's DuckDB oracle unrolls the same iterations).
  *
  * Semantics: every node starts with `initTokens`. Per iteration a node
  * keeps the teleport share `initTokens·(1−d)` and each out-edge carries
  * `(r·dampNum) div (dampDen·outdeg)` tokens to its target. Flooring
  * drops a few tokens per edge (deterministically — both engines
  * truncate toward zero) and dangling-node mass is dropped rather than
  * redistributed: redistribution needs a global mass sum every
  * iteration, which reintroduces the float-order problem for no ranking
  * benefit.
  *
  * Overflow bound: a node's rank is bounded by the TOTAL token mass (a
  * perfect hub can receive nearly all of it), so `r·dampNum` must fit a
  * BIGINT in the worst case — `nodes·initTokens·dampNum < 2^63`. By
  * default ([[AutoTokens]]) the token scale is DERIVED from the
  * mass-holding node count via [[autoInitTokens]]: full 10^12 resolution
  * up to ~108k nodes, scaled down beyond that so the bound always holds
  * (ranks only need relative resolution). The same pure-integer
  * derivation is replayed inside the oracle SQL, so auto-scaling stays
  * cross-engine exact at any data size. Explicit `initTokens` requests
  * are still validated and rejected loudly if they could wrap.
  *
  * Scale shape: one loop, over the ADJACENCY layout (src, outdeg, dsts)
  * — one row per source, destinations packed in an array, hash-
  * partitioned on `src` once and cached. Per round only the rank table
  * (one row per NODE, not per edge) moves, and the edges fan out inside
  * a codegen'd explode feeding the per-target token sum. A round reads
  * its predecessor once, so the rounds chain with no per-round pin into
  * one plan ([[LoopCache.chain]]) that [[LoopCache.finish]] runs as ONE
  * job: the Pregel cost model without its float nondeterminism or a
  * driver round trip per superstep. (BFS, SSSP and k-core read the
  * predecessor twice, HITS bakes its values into the next round: those
  * pin every round, see [[LoopCache.pinnedRounds]].) Callers pass the
  * layout [[Adjacency]] builds (staged by [[graft.Tables]]).
  *
  * Staleness contract (all variants, round 16): results are memoized for
  * the session by canonicalized input plan + parameters
  * ([[LoopCache.memo]]), so a second call on an IDENTICAL-LOOKING source
  * plan returns the first call's result even if the files behind it
  * changed mid-session. That is the engine-wide memo design (caches are
  * cost model, never correctness-of-freshness); harnesses that mutate
  * inputs between calls must run [[LoopCache.clearMemo]] — Verify and
  * Bench both do.
  */
object PageRank {

  /** Sentinel default for `initTokens`: derive the token scale from the
    * graph size via [[autoInitTokens]] instead of a fixed constant. */
  val AutoTokens: Long = -1L

  /** Default resolution cap: 10^12 tokens per node. Graphs under ~108k
    * mass-holding nodes (at damping 85/100) run at full cap; larger
    * graphs scale the tokens down so the overflow bound always holds. */
  val TokenCap: Long = 1000000000000L

  /** The largest per-node token grant that (a) is an exact multiple of
    * `dampDen` (so the teleport share is an exact integer) and (b) cannot
    * overflow BIGINT even if a perfect hub collected the entire mass:
    * `massNodes · init · dampNum ≤ 2^63−1`. Capped at [[TokenCap]] so
    * small graphs keep full resolution — and so the auto default changes
    * nothing for graphs that fit the cap. Pure integer arithmetic: any
    * other engine replays it exactly (`//` division in the DuckDB
    * oracle, QueriesGraph.copurchasePagerankSql). */
  def autoInitTokens(massNodes: Long, dampNum: Long = 85L,
      dampDen: Long = 100L, cap: Long = TokenCap): Long = {
    val n = math.max(massNodes, 1L)
    val maxInit = Long.MaxValue / math.max(dampNum, 1L) / n
    val scaled = (maxInit / dampDen) * dampDen
    require(scaled > 0,
      s"graph too large for exact token PageRank: $n mass-holding nodes " +
        s"leaves no BIGINT headroom at damping $dampNum/$dampDen")
    math.min(cap, scaled)
  }

  /** Resolve the token scale: auto-derive from the mass-holding node
    * count ([[AutoTokens]]), or validate an explicit request — worst-case
    * rank ≈ `massNodes·initTokens`, multiplied by dampNum inside the
    * iteration, must fit BIGINT. The node count of a staged node table
    * comes from its parquet footers ([[FooterCounts]]); any other node
    * table, and the seed table, costs one count query. Returns (initTokens,
    * teleport share). */
  private def resolveTokens(initTokens: Long, dampNum: Long, dampDen: Long,
      massNodes: => Long): (Long, Long) = {
    val n = math.max(massNodes, 1L)
    val tokens =
      if (initTokens == AutoTokens) autoInitTokens(n, dampNum, dampDen)
      else {
        require(initTokens > 0 && initTokens % dampDen == 0,
          s"initTokens=$initTokens must be a positive multiple of " +
            s"dampDen=$dampDen so the teleport share is an exact integer " +
            "(pick e.g. 10^12, or leave the AutoTokens default)")
        require(n <= Long.MaxValue / math.max(dampNum, 1L) / initTokens,
          s"$n mass-holding nodes x initTokens=$initTokens x dampNum=$dampNum " +
            "could overflow BIGINT at a perfect hub - use a smaller initTokens " +
            "(ranks only need relative resolution) or the AutoTokens default")
        initTokens
      }
    (tokens, (tokens / dampDen) * (dampDen - dampNum))
  }

  /** The PageRank loop, over an ADJACENCY layout (src, outdeg, dsts) +
    * node table (staged: Tables.copurchaseAdjacency/copurchaseNodes;
    * from an edge list: [[Adjacency.directed]]/[[Adjacency.nodes]]).
    * Returns (id, rank_tokens) for every node. Each edge carries
    * `(r·dampNum) div (dampDen·outdeg)` tokens, but the per-round operand
    * is node-sized (one row per source, destinations packed in an array),
    * so the join probes |nodes| rows and the edge volume only appears
    * inside a codegen'd explode feeding the partial aggregate — no
    * per-edge row is scanned, hashed or joined per round. This is the
    * GraphX-style edge-partition answer, expressed declaratively. The
    * node table's row count is the mass-holding node count the token
    * scale derives from; over the staged tables it and the loop width
    * come from parquet footers ([[FooterCounts]]), so neither starts a
    * job, and any other input pays one aggregate query for each. */
  def fixedPointAdj(adj: DataFrame, nodes: DataFrame, iterations: Int = 5,
      initTokens: Long = AutoTokens,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    require(dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must lie in [0, 1]")
    // DEEP-ROUNDS SAFE: one job, no per-round pin, and LoopCache.chain
    // keeps planning linear in rounds (LoopDepthProbe pagerank_adj).
    // Warm re-invocations return the memoized final; staleness contract:
    // see the object scaladoc.
    LoopCache.memo(Seq("pagerankAdj", LoopCache.planKey(adj),
        LoopCache.planKey(nodes), iterations, initTokens, dampNum, dampDen)) {
      val (_, a, Seq(nodeIds)) = Adjacency.pinDirected(adj,
        nodes.select(col("id").cast("long").as("id")))
      // the node count comes from the staged node table's parquet
      // footers (FooterCounts), else from one count query
      val (initTok, teleport) = resolveTokens(initTokens, dampNum, dampDen,
        FooterCounts(nodeIds).rows)
      // The rank table stays SPARSE: it only carries nodes with in-edges.
      // A node absent from it has a known rank — `initTokens` before the
      // first round, exactly `teleport` afterwards (no in-edges ⟹ nothing
      // but the teleport share) — so a coalesce default replaces a dense
      // per-iteration node join: one adjacency⋈rank join + one token sum
      // per round, nothing else.
      var ranks: Option[DataFrame] = None
      var default = initTok
      for (i <- 1 to iterations) {
        // shuffled hash join building the rank side, which the previous
        // token sum left hash(id, w)-partitioned: neither side moves, and
        // no round starts a broadcast job
        val withRank = ranks match {
          case None => a.withColumn("r", lit(initTok))
          case Some(rk) =>
            a.join(rk.hint("shuffle_hash"), col("src") === col("id"), "left")
              .withColumn("r", coalesce(col("r"), lit(default)))
        }
        // the per-edge token value is constant across a source's fanout,
        // so it is computed ONCE per source row, before the explode
        val contrib = withRank
          .select(expr(s"(r * ${dampNum}L) div (${dampDen}L * outdeg)").as("c"),
            explode(col("dsts")).as("dst"))
          .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
        ranks = Some(LoopCache.chain(i, contrib.select(col("dst").as("id"),
          (lit(teleport) + col("contrib")).as("r"))))
        default = teleport
      }
      LoopCache.finish(
        nodeIds.join(ranks.get, Seq("id"), "left")
          .select(col("id"), coalesce(col("r"), lit(teleport)).as("rank_tokens")),
        a)
    }
  }

  /** PERSONALIZED PageRank over the adjacency layout: teleport mass
    * flows only to the `seeds` node set, so ranks measure proximity to
    * the seeds (random walk with restart). [[fixedPointAdj]]'s exact
    * token arithmetic and node-sized rounds, with the seed teleport
    * re-entering each round; non-seed nodes start at 0. Total mass is
    * seeds·initTokens, so the overflow guard counts seeds, not nodes. */
  def personalizedAdj(adj: DataFrame, seeds: DataFrame, seedCol: String,
      iterations: Int = 5, initTokens: Long = AutoTokens,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    require(dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must lie in [0, 1]")
    // DEEP-ROUNDS SAFE: one unpinned chain, re-rooted every ChainRounds
    // rounds and run as one job, exactly the fixedPointAdj shape above.
    LoopCache.memo(Seq("pprAdj", LoopCache.planKey(adj),
        LoopCache.planKey(seeds), seedCol, iterations, initTokens,
        dampNum, dampDen)) {
      val (w, a, Seq(seedsT)) = Adjacency.pinDirected(adj,
        seeds.select(col(seedCol).cast("long").as("id")))
      // id-partitioned like the adjacency: round 1's join moves neither side
      val seedIds = seedsT.distinct().repartition(w, col("id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // total mass is seeds·initTokens, so the token scale derives from the
      // SEED count, not the node count (mirrored by the q110 oracle SQL)
      val (initTok, teleport) = resolveTokens(initTokens, dampNum, dampDen,
        seedIds.agg(count(lit(1))).head().getLong(0))
      // teleport re-entry: each round's token sum also reads one row per
      // seed, so a seed holds its share with no in-edge, and the ranks
      // leave hash(id, w)-partitioned (no outer join, no rank exchange)
      val teleportRows = seedIds.select(lit(teleport).as("c"), col("id").as("dst"))
      // ranks stay sparse: nodes holding mass only. Round 1: seeds at
      // initTokens. Each round: propagate, then re-add the seed teleport.
      var ranks = seedIds.select(col("id"), lit(initTok).as("r"))
      for (i <- 1 to iterations) {
        // shuffled hash join on the rank side, as in fixedPointAdj
        ranks = LoopCache.chain(i,
          a.join(ranks.hint("shuffle_hash"), col("src") === col("id"))
            .select(expr(s"(r * ${dampNum}L) div (${dampDen}L * outdeg)").as("c"),
              explode(col("dsts")).as("dst"))
            .unionByName(teleportRows)
            .groupBy(col("dst")).agg(sum(col("c")).as("r"))
            .select(col("dst").as("id"), col("r")))
      }
      LoopCache.finish(
        ranks.select(col("id"), col("r").as("rank_tokens")), a, seedIds)
    }
  }
}
