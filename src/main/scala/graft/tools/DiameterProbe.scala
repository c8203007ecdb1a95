package graft.tools

import org.apache.spark.sql.functions._

/** Diameter-growth evidence for the skewed replica corpus (SCALE.md
  * round 14): BFS from part 0 over the co-purchase adjacency with a
  * deep round budget, reporting per-level frontier sizes and — the
  * topology signature — how many distinct REPLICAS (id / 10M) the reach
  * set spans per level. On the uniform corpus the reach never leaves
  * replica 0 (disjoint components, diameter constant in R); on the
  * skewed corpus the bridge chain admits one new replica roughly every
  * few levels, so max level and replica span GROW with R.
  *
  * Usage: tools/run_main.sh graft.tools.DiameterProbe DIR ROUNDS [DIR2...]
  */
object DiameterProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val rounds = args(1).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.cli.CliUtil.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    for (dir <- args(0) +: args.drop(2)) {
      val t0 = System.nanoTime()
      val levels = graft.operators.Bfs.levelsAdj(
        graft.Tables.copurchaseAdjacency(spark, dir)
          .select(col("src").as("id"), col("dsts").as("nbrs")),
        Seq(0L).toDF("id"), "id", rounds = rounds)
      val rows = levels
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n"),
          max(expr("id div 10000000")).as("furthest_replica"))
        .orderBy(col("level"))
        .collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val total = rows.map(_.getLong(1)).sum
      val span = rows.map(_.getLong(2)).max
      println(f"[diam] $dir rounds=$rounds reached=$total%d " +
        f"maxLevel=${rows.last.getAs[Any]("level")} furthestReplica=$span%d " +
        f"(${sec}%.1f s)")
      rows.foreach(r => println(
        s"[diam]   level ${r.get(0)}: ${r.getLong(1)} nodes, " +
          s"furthest replica ${r.getLong(2)}"))
    }
    spark.stop()
  }
}
