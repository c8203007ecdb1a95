package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{FuzzyMatch, SortedNeighborhood}

/** Scratch probe for the blocking-skew corner (not part of the driver
  * contract): plants a shared hot prefix on a fraction 1/k of documents —
  * the adversarial input for prefix blocking, where one block of size n/k
  * costs (n/k)² candidate verifications — and times [[FuzzyMatch]]
  * (quadratic in the hot block) against [[SortedNeighborhood]] (n·w
  * candidates by construction) on the SAME planted data.
  *
  * `sbt "runMain graft.tools.SkewProbe <sfDir> <k1,k2,...>"` — k = 0
  * means no planting (baseline); k = 20 plants the prefix on 5% of docs.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ks = if (args.length > 1) args(1).split(",").map(_.trim.toInt).toSeq
      else Seq(0, 100, 20, 10)
    val spark = graft.cli.CliUtil.builder("local[32]", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.rebalance(
      graft.Tables.documents(spark, sfDir).select("doc_id", "text"))
    ks.foreach { k =>
      val planted = if (k <= 0) docs
        else docs.withColumn("text",
          when(col("doc_id") % k === 0,
            concat(lit("shared hot prefix marker text "), col("text")))
            .otherwise(col("text")))
      def time(label: String)(run: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = run
        println(f"[skew] k=$k $label: ${(System.nanoTime() - t0) / 1e9}%.3f s, $n rows")
      }
      time("fuzzy blockedPairs") {
        FuzzyMatch.blockedPairs(planted, "doc_id", "text").count()
      }
      time("snm verifiedPairs ") {
        SortedNeighborhood.verifiedPairs(planted, "doc_id", "text").count()
      }
    }
    spark.stop()
  }
}
