package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

/** Cross-process staging race probe (VERDICT r17 #8): two of these
  * JVMs, pointed at ONE fresh SPARK_GRAFT_STAGE_DIR by
  * tools/check_stage_race.sh, race the same cold
  * [[graft.operators.Staging.stagedOrDerive]] — the real deployment
  * shape (two jobs landing on a fresh corpus). The required outcome is
  * ONE derive + ONE wait-and-read: never a double-derive (the lock's
  * whole point) and never a torn read (the rename protocol's).
  *
  * Each probe rendezvouses on ready-files in the stage root before
  * calling stagedOrDerive, so both processes enter the race window
  * within one poll tick regardless of JVM startup skew; the derive body
  * carries a deliberate 3 s floor so the window cannot close before the
  * second process arrives. Output: one JSON line with the role, the
  * staging provenance for this process ("waited" | derive seconds), and
  * a content hash of the rows read — the script asserts one derive, one
  * wait, equal hashes.
  *
  * Usage: SPARK_GRAFT_STAGE_DIR=<fresh root> \
  *        tools/run_main.sh graft.tools.StageRaceProbe <role> <peerRole> [sfDir]
  */
object StageRaceProbe {
  def main(args: Array[String]): Unit = {
    graft.cli.CliUtil.pinLocale()
    val role = args(0)
    val peer = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val root = Paths.get(sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR",
      sys.error("SPARK_GRAFT_STAGE_DIR must point at the shared race root")))
    val spark = graft.cli.CliUtil.session("stage-race")
    spark.sparkContext.setLogLevel("ERROR")

    // rendezvous: announce readiness, then spin until the peer is ready
    Files.createDirectories(root)
    Files.write(root.resolve(s"ready.$role"), Array.emptyByteArray)
    val deadline = System.currentTimeMillis() + 120000L
    while (!Files.exists(root.resolve(s"ready.$peer"))) {
      if (System.currentTimeMillis() > deadline)
        sys.error(s"peer $peer never became ready")
      Thread.sleep(50)
    }

    val df = graft.operators.Staging.stagedOrDerive(spark, "race_gate",
        Seq(s"$sfDir/lineitem.parquet")) {
      // a derive with a real shuffle plus a fixed floor so the race
      // window is reliably wider than the rendezvous skew
      Thread.sleep(3000)
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
    }
    // content hash over sorted rows: equal for both processes iff both
    // read the same complete stage
    val rows = df.orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect().map(_.toString).mkString("|")
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
    println(graft.ArtifactJson.text(("role" -> role) ~
      ("staged" -> graft.operators.Staging.provenanceObject) ~
      ("n_rows" -> df.count()) ~ ("hash" -> hash)))
    spark.stop()
  }
}
