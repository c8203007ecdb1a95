package graft.tools

import org.apache.spark.sql.functions._

/** LSH bucket-population census (VERDICT r13 #7): q44's steady-cold sf10
  * ratio (5.9× for 10× data) was attributed to bucket-population growth;
  * this tool MEASURES the distribution so the next decade's behavior is
  * predicted, not hoped. For each corpus dir passed, it builds the same
  * (band, bucket, id) table `Dedup.lshCandidatePairs` shuffles (64 perms,
  * 16 bands — q32/q44's parameters) and prints one JSON line with:
  *   - a log2 histogram of bucket sizes,
  *   - the count and total membership of buckets over the mega-bucket
  *     cap (200 — these are DROPPED by the operator),
  *   - the exact candidate-pair volume  Σ s·(s−1)/2 over kept buckets —
  *     the quantity q44's cost actually follows.
  *
  * Usage: tools/run_main.sh graft.tools.BucketCensus DIR [DIR...]
  */
object BucketCensus {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.cli.CliUtil.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (dir <- args) {
      val sigs = graft.operators.Dedup.minHashSignatures(
        graft.Tables.documents(spark, dir).select("doc_id", "text"),
        "doc_id", "text")
      val bandCols = graft.operators.Dedup.bandStructs(64, 16)
      val sizes = sigs
        .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .groupBy(col("bb.band"), col("bb.bucket"))
        .agg(count(lit(1)).as("s"))
      val hist = sizes
        .groupBy(floor(log2(col("s"))).cast("int").as("log2_size"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("s")).as("members"))
        .orderBy(col("log2_size"))
        .collect()
        .map(r => s""""2^${r.getInt(0)}":[${r.getLong(1)},${r.getLong(2)}]""")
        .mkString("{", ",", "}")
      val Array(nMega, megaMembers, pairs) = sizes.agg(
          count_if(col("s") > 200).as("n_mega"),
          coalesce(sum(when(col("s") > 200, col("s"))), lit(0L)),
          coalesce(sum(when(col("s") <= 200,
            expr("s * (s - 1) div 2"))), lit(0L)))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val nDocs = sigs.count()
      println(s"""{"dir":"$dir","n_docs":$nDocs,"hist":$hist,""" +
        s""""mega_buckets":$nMega,"mega_members":$megaMembers,""" +
        s""""kept_candidate_pairs":$pairs}""")
    }
    spark.stop()
  }
}
