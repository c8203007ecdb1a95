package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated name filter] — the filter runs
    // (and dumps oracle SQL for) only the named queries, for cheap
    // targeted re-checks; the driver's two-arg call is unchanged.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    def keep(name: String) = only.forall(_.contains(name))
    // Multi-process smoke (VERDICT r14 #1): SPARK_GRAFT_MASTER=
    // local-cluster[2,16,16384] runs the SAME oracle pipeline with real
    // executor JVMs — custom Catalyst expressions, broadcasts, LoopCache
    // pins and DSv2 readers all cross a genuine serialization boundary.
    // Requires SPARK_HOME and SPARK_SCALA_VERSION=2.13 (executor launch
    // from a binary distribution) and SPARK_GRAFT_JARS
    // (CliUtil.clusterConfs).
    val spark = graft.cli.CliUtil.session("verify",
      sys.env.get("SPARK_GRAFT_MASTER"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => keep(n) }.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a STALE result from an earlier run
        // sitting where the checker would read it as current (it would
        // mask the failure as a value mismatch — or worse, a false pass).
        // The cleanup itself must never escape this handler: one query's
        // failure aborting the loop would zero the whole round.
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists && !org.apache.commons.io.FileUtils.deleteQuietly(dir))
          System.err.println(s"[verify] $name stale-cleanup failed")
      }
      // finished queries' persisted intermediates are dead weight in a
      // 100+-query session (fresh DataFrames each call never reuse them)
      // — drop them so late queries aren't evicting or spilling. In a
      // `finally` so a THROWING query also releases what it pinned. The
      // operator memo goes with it: its entries hold the dropped pins'
      // plans/RDDs, and nothing later reuses them.
      finally {
        spark.catalog.clearCache()
        graft.operators.LoopCache.clearMemo()
      }
    }
    // A FILTERED run must not clobber the full oracle_sql.json: stale
    // per-query parquet dirs from a previous full run would remain in
    // outDir, and a later full DuckDB compare against the shrunken map
    // would silently verify fewer queries. Filtered runs write a
    // sibling partial file instead.
    val oracleFile =
      if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    writeOracleSql(s"$outDir/$oracleFile", keep)
    // this JVM's codegen totals (under local-cluster, the driver's only):
    // every session shares one class loader (see CliUtil.confs), so a
    // run compiles each distinct class once; a return to per-session
    // recompiling shows here as a jump in both
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val compileMs = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime / 1000000L
    println(s"[verify] codegen: $compiles classes compiled in $compileMs ms")
    spark.stop()
  }

  /** `{"<query>": "<oracle SQL>", ...}` for the queries `keep` selects —
    * the map `tools/check_oracle.py` replays in DuckDB. */
  private[graft] def writeOracleSql(path: String, keep: String => Boolean): Unit =
    Files.writeString(Paths.get(path), ArtifactJson.text(org.json4s.JObject(
      SparkEntry.oracleSql.toList.filter { case (k, _) => keep(k) }
        .map { case (k, v) => k -> org.json4s.JString(v) })))
}
