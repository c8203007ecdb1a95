package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The hot-entity mitigation demo for the stream-stream interval join
  * (SCALE.md round 14). On the skewed corpus a 20%-hot user makes the
  * entity-keyed interval join's OUTPUT quadratic in the key's rate
  * (66.1M pairs for the one key; ~3e11 per-key state probes in one
  * partition) — no engine makes a quadratic output linear, so the
  * answer is pipeline-level: a hot-entity DENYLIST applied as a
  * stream-static anti-join BEFORE the join (production bot filtering).
  * The denylist is computed batch-side from rate stats and broadcast;
  * the stream side stays stateless until the join.
  *
  * Usage: tools/run_main.sh graft.tools.StreamSkewProbe DIR [rateCap]
  *   rateCap: events/entity above which an entity is denylisted
  *            (default 100000 — only the planted mega-user trips it).
  */
object StreamSkewProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args.headOption.getOrElse("/tmp/skew100x")
    val rateCap = if (args.length > 1) args(1).toLong else 100000L
    val spark = graft.cli.CliUtil.builder("local[32]", "32")
      // the drained-rows report sums recentProgress, which keeps only the
      // last N progress entries (default 100) — fine at 8 batches, but a
      // silent undercount if staging or maxFilesPerTrigger changes
      // (ADVICE r15); raise the buffer well past any batch count here
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    // batch-side denylist: entities over the rate cap (1 row here)
    val hot = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > rateCap).select(col("user_id"))
    val nHot = hot.count()
    println(s"[stream-skew] denylisted entities (> $rateCap events): $nHot")

    val work = java.nio.file.Files.createTempDirectory("graft-sskew")
    events.repartition(32).write.mode("overwrite").parquet(s"$work/ev")
    val schema = spark.read.parquet(s"$work/ev").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(s"$work/ev")
    // the mitigation is now FIRST-CLASS on the operator (VERDICT r14 #2):
    // the denylist is broadcast-anti-joined on both sides inside
    // intervalJoinStream; StreamingOps.deniedEvents is the audit side-output
    val joined = graft.streaming.StreamingOps.intervalJoinStream(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "click"),
      "user_id", "ts", denylist = Some(hot))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sskew-ck")
    val t0 = System.nanoTime()
    val q = joined.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = q.recentProgress.map(_.numInputRows).sum
    println(f"[stream-skew] interval join with denylist: drained $rows%d " +
      f"input rows in $sec%.1f s")
    spark.stop()
  }
}
