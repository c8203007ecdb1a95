package graft.tools

import org.apache.spark.sql.functions._

/** Deep-rounds cost probe for the caller-budgeted loop operators: times
  * each operator at increasing round budgets on the same corpus, cold per
  * measurement (cache + memo cleared), in the session the CLI mains use
  * (`local[SPARK_GRAFT_CPUS]`, so it measures the host it runs on).
  * Every operator here must read LINEAR marginal cost per round (nested
  * round plans once cost 30+ min of driver-side planning at rounds=20).
  * PageRank.fixedPointAdj and PageRank.personalizedAdj run their rounds
  * as one plan (LoopCache.chain); Bfs.levelsAdj and
  * ShortestPath.distancesAdj (one min-relaxation loop, seeded at the
  * three smallest part ids), LabelPropagation.communitiesAdj and, when
  * `k=` is given, the k-core peel KCore.survivorsAdj (`kcore_adj`;
  * usually fixed within a few rounds, but a high-layering graph peels
  * one layer per round) pin and re-root every round
  * (LoopCache.pinnedRounds). The edge-list entry points run these same
  * loops.
  *
  * Usage: SPARK_GRAFT_CPUS=N tools/run_main.sh graft.tools.LoopDepthProbe
  *        DIR R1 [R2...] [only=name,name] [k=K]
  */
object LoopDepthProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args(0)
    val (optArgs, roundArgs) = args.drop(1).partition(_.contains("="))
    val opts = optArgs.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val only = opts.get("only").map(_.split(",").map(_.trim).toSet)
    val k = opts.get("k").map(_.toLong)
    require(k.isDefined || !only.exists(_.contains("kcore_adj")),
      "kcore_adj needs k=K")
    val rounds = roundArgs.map(_.toInt)
    val spark = graft.cli.CliUtil.session("loop-depth")
    spark.sparkContext.setLogLevel("WARN")

    def seeds() = graft.Tables.lineitemPartkeys(spark, dir)
      .orderBy(col("l_partkey")).limit(3)

    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "pagerank_adj" -> (r => graft.operators.PageRank.fixedPointAdj(
        graft.Tables.copurchaseAdjacency(spark, dir),
        graft.Tables.copurchaseNodes(spark, dir), iterations = r)),
      "ppr_adj" -> (r => graft.operators.PageRank.personalizedAdj(
        graft.Tables.copurchaseAdjacency(spark, dir),
        seeds(), "l_partkey", iterations = r)),
      "bfs_adj" -> (r => graft.operators.Bfs.levelsAdj(
        graft.Tables.copurchaseAdjacency(spark, dir)
          .select(col("src").as("id"), col("dsts").as("nbrs")),
        seeds(), "l_partkey", rounds = r)),
      "sssp_adj" -> (r => graft.operators.ShortestPath.distancesAdj(
        graft.Tables.copurchaseWeightedAdjacency(spark, dir),
        seeds(), "l_partkey", rounds = r)),
      "lpa_adj" -> (r => graft.operators.LabelPropagation.communitiesAdj(
        graft.Tables.copurchaseTop10Adjacency(spark, dir), rounds = r)),
      "kcore_adj" -> (r => graft.operators.KCore.survivorsAdj(
        graft.Tables.copurchaseAdjacency(spark, dir), k.get, r)))

    for ((name, fn) <- ops if only.forall(_.contains(name)) &&
        (name != "kcore_adj" || k.isDefined); r <- rounds) {
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
      val t0 = System.nanoTime()
      val n = fn(r).count()
      println(f"[loop-depth] $name%-14s rounds=$r%-3d out=$n%-8d " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
