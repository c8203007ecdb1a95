package graft.tools

import org.apache.spark.sql.functions._

/** AQE skew-join demonstration on REAL skew (SCALE.md round 14): the
  * skewed replica corpus rebinds 30% of all orders to customer 0, so an
  * orders⋈customer shuffle join puts ~a third of the fact table in one
  * reducer partition. This probe times the join + aggregate three ways
  * on the same corpus:
  *   1. AQE skew-join ON (the engine default),
  *   2. AQE skew-join OFF (what a hot key costs when one task carries it),
  *   3. the explicit salted operator (SkewSalt.saltedJoin, q65's path).
  * Broadcast is disabled for the probe (customer at any real scale is
  * too big to broadcast; at 100 TB this join IS a shuffle join) so the
  * skew actually reaches the shuffle. Prints seconds + whether the final
  * adaptive plan marked the join skew=true.
  *
  * Usage: tools/run_main.sh graft.tools.AqeSkewProbe DIR
  */
object AqeSkewProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args.headOption.getOrElse("/tmp/skew100x")
    val spark = graft.cli.CliUtil.builder("local[32]", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(label: String, skewJoin: Boolean, salted: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // emulate the 100 TB regime at probe scale: the hot partition here
      // is ~140 MB — under AQE's default 256 MB skew threshold, while at
      // cluster scale the same 30%-of-the-table key is TBs and far over
      // it. Scale the thresholds down proportionally so the probe
      // exercises the same OptimizeSkewedJoin decision the big corpus
      // would trigger with defaults.
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      val o = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = graft.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined =
        if (salted)
          graft.operators.SkewSalt.saltedJoin(
            o, c, "o_custkey", "c_custkey", numSalts = 8)
        else o.join(c, col("o_custkey") === col("c_custkey"))
      val agg = joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val t0 = System.nanoTime()
      // collect (5 rows), not a noop write: the write would run through
      // its OWN QueryExecution, leaving agg's adaptive plan unexecuted —
      // and only the EXECUTED AdaptiveSparkPlan carries the final
      // skew-split join (isFinalPlan=true, skew=true markers)
      agg.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = agg.queryExecution.executedPlan.toString
      val skewMarked = plan.contains("skew=true")
      println(f"[aqeskew] $label%-28s ${sec}%6.2f s  skewMarked=$skewMarked")
    }
    // warm the scans once so tiers compare compute, not first-touch IO
    run("warmup (aqe on)", skewJoin = true, salted = false)
    run("aqe skew-join ON", skewJoin = true, salted = false)
    run("aqe skew-join OFF", skewJoin = false, salted = false)
    run("salted operator (8 salts)", skewJoin = true, salted = true)
    spark.stop()
  }
}
