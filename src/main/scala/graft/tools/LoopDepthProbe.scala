package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deep-rounds cost probe for the WHOLE caller-budgeted loop-operator
  * family (companion to DiameterProbe for BFS/SSSP and KCoreDepthProbe
  * for the adjacency peel): times each operator at increasing round
  * budgets on the same corpus, cold per measurement (cache + memo
  * cleared). The r14 finding was that the nested-plan loop's per-round
  * Catalyst planning cost grows SUPERLINEARLY past ~10 rounds (measured
  * 30+ min of pure driver-side planning at rounds=20); after the
  * memo+reRoot migration every operator here must read LINEAR marginal
  * cost per round — this probe is the done-criterion for that claim
  * (VERDICT r15 #1).
  *
  * Operators covered: PageRank.fixedPointAdj, PageRank.personalizedAdj,
  * LabelPropagation.communitiesAdj. The edge-list entry points run these
  * same loops.
  *
  * Usage: tools/run_main.sh graft.tools.LoopDepthProbe DIR R1 [R2...]
  *        [only=name,name]
  */
object LoopDepthProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args(0)
    val (onlyArgs, roundArgs) = args.drop(1).partition(_.startsWith("only="))
    val only = onlyArgs.headOption
      .map(_.stripPrefix("only=").split(",").map(_.trim).toSet)
    val rounds = roundArgs.map(_.toInt)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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
      "lpa_adj" -> (r => graft.operators.LabelPropagation.communitiesAdj(
        graft.Tables.copurchaseTop10Adjacency(spark, dir), rounds = r)))

    for ((name, fn) <- ops if only.forall(_.contains(name)); r <- rounds) {
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
