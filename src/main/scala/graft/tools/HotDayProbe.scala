package graft.tools

import org.apache.spark.sql.functions._

/** Hot-day / hot-hour probe for the sweep-line decomposition
  * (VERDICT r16 #6, extended r18 for VERDICT r17 #4): plants a
  * pathological interval corpus where ONE day (mode `day`) or ONE HOUR
  * (mode `hour`) holds almost every interval — the topologies where the
  * flat path's per-day window (or the hour-nested path's per-hour
  * window) sorts the whole corpus in a single task — and times
  * [[graft.operators.SweepLine.dailyPeakConcurrency]] on the flat path
  * (threshold above the corpus) vs the nested path on the same data,
  * asserting both return identical rows before timing.
  * Results are banked in SCALE.md.
  *
  * The nested run uses ONE threshold (n/6) in both modes and lets the
  * operator pick its own depth — the point of the r18 recursion:
  *  - `day` mode spreads the hot day uniformly over its 24 hours, so
  *    each hour holds ~n/12 deltas < n/6 and the operator stops at the
  *    designed 24-way HOUR split;
  *  - `hour` mode packs every start into one hour (~n deltas > n/6),
  *    so the hour check trips too and the operator recurses to the
  *    60-way MINUTE split — the topology the r17 hour nesting could
  *    not break up (its own documented residual, SweepLine.scala).
  *
  * Usage: tools/run_main.sh graft.tools.HotDayProbe N_INTERVALS [reps] [day|hour]
  */
object HotDayProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val n = if (args.nonEmpty) args(0).toLong else 5000000L
    val reps = if (args.length > 1) args(1).toInt else 3
    val mode = if (args.length > 2) args(2) else "day"
    require(mode == "day" || mode == "hour", s"mode must be day|hour: $mode")
    val spark = graft.cli.CliUtil.builder("local[32]", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one hot day (uniform over its 24h) or one hot hour (uniform over
    // its 3600 s), + 3 quiet days for carry paths
    val day0 = lit("2026-08-10 00:00:00").cast("timestamp")
    val hotSpan = if (mode == "day") 86400L else 3600L
    val hot = spark.range(n).select(
      (unix_timestamp(day0) + (col("id") * 7919L) % hotSpan)
        .cast("timestamp").as("st"),
      (unix_timestamp(day0) + (col("id") * 7919L) % hotSpan
        + 60L + col("id") % 3600L).cast("timestamp").as("et"))
    val quiet = spark.range(n / 1000 max 1L).select(
      (unix_timestamp(day0) + lit(86400L) * (lit(1L) + col("id") % 3L)
        + (col("id") * 104729L) % 86400L).cast("timestamp").as("st"),
      (unix_timestamp(day0) + lit(86400L) * (lit(1L) + col("id") % 3L)
        + (col("id") * 104729L) % 86400L + 300L).cast("timestamp").as("et"))
    val iv = hot.unionByName(quiet)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[probe] intervals=${iv.count()} (hot $mode $n)")

    def run(label: String, threshold: Long): (Seq[String], Double) = {
      // fresh each time: clear cache so persist inside the operator
      // re-materializes and the timing is comparable
      spark.catalog.clearCache()
      iv.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      iv.count()
      val t0 = System.nanoTime()
      val rows = graft.operators.SweepLine
        .dailyPeakConcurrency(iv, "st", "et", threshold)
        .collect().map(_.toString).toSeq
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $label%-8s $sec%8.2f s  (${rows.size} day rows)")
      (rows, sec)
    }

    // the single auto-depth threshold: trips the day check in both
    // modes; trips the hour check only in `hour` mode (see scaladoc)
    val nestThreshold = n / 6 max 1L
    // warm both paths once (plan/codegen), then measure
    run("warm-flat", Long.MaxValue)
    run("warm-nest", nestThreshold)
    var flatRows: Seq[String] = Nil
    var nestRows: Seq[String] = Nil
    val flats = (1 to reps).map { _ => val (r, s) = run("flat", Long.MaxValue); flatRows = r; s }
    val nests = (1 to reps).map { _ => val (r, s) = run("nested", nestThreshold); nestRows = r; s }
    require(flatRows == nestRows,
      s"nested path diverged from flat: $nestRows vs $flatRows")
    println(f"[probe] RESULT mode=$mode n=$n flat_min=${flats.min}%.2f s " +
      f"nested_min=${nests.min}%.2f s speedup=${flats.min / nests.min}%.2fx " +
      "(identical rows)")
    spark.stop()
  }
}
