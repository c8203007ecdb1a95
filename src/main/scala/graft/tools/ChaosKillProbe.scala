package graft.tools

import org.json4s._
import org.json4s.JsonDSL._

import graft.ArtifactJson.fixed

/** Executor-kill chaos gate (VERDICT r17 #2): run catalog queries on a
  * REAL 2-executor local-cluster, `kill -9` one executor JVM while the
  * query is mid-flight, and assert the recovered result is BIT-IDENTICAL
  * to the healthy run — "caches are cost model, never correctness" at
  * the process-death failure class. Standalone recovery does the rest:
  * the Worker reports the dead executor, the Master re-launches a
  * replacement, lost shuffle blocks surface as FetchFailed and the
  * stages re-run; what this gate pins is that graft's operators (md5
  * draws, LoopCache pins, staged reads, iterative loops, streaming
  * replays) are DETERMINISTIC under partial recompute, so the retried
  * tasks reproduce the exact rows the first attempt would have.
  *
  * Kill scheduling: the healthy pass times each query; the chaos pass
  * fires the kill at ~40% of that time (≥0.3 s). A kill that lands
  * after the query finished proves nothing — the probe verifies the
  * victim died while the action was still running and RETRIES (earlier
  * kill) up to 3 times, recording `kill_mid_query` honestly either way.
  *
  * Usage (cluster env exactly like the CORRECTNESS_CLUSTER gate):
  *   SPARK_GRAFT_MASTER=local-cluster[2,8,8192] \
  *   SPARK_GRAFT_JARS=target/scala-2.13/<graft>.jar \
  *   tools/run_main.sh graft.tools.ChaosKillProbe SF_DIR OUT_JSON q1,q2,...
  */
object ChaosKillProbe {

  /** PIDs of live executor JVMs (CoarseGrainedExecutorBackend children
    * of this machine's Spark standalone workers). */
  private def executorPids(): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.info().commandLine().orElse("")
        .contains("CoarseGrainedExecutorBackend"))
      .toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = args(1)
    val names = args(2).split(",").map(_.trim).toSeq
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER",
      "local-cluster[2,8,8192]")
    require(master.startsWith("local-cluster"),
      s"chaos gate needs real executor JVMs, got master=$master")
    // default 4 task failures / 4 stage attempts tolerate one murder;
    // what must NOT be raised is anything masking nondeterminism
    val spark = graft.cli.CliUtil.session("chaos-kill", Some(master))
    spark.sparkContext.setLogLevel("WARN")
    val qs = graft.Queries.registry.filter(q => names.contains(q.name))
    require(qs.map(_.name).toSet == names.toSet,
      s"unknown queries: ${names.toSet -- qs.map(_.name).toSet}")

    def canon(name: String): (Seq[String], Double) = {
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
      val q = qs.find(_.name == name).get
      val t0 = System.nanoTime()
      val rows = q.fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
      (rows, (System.nanoTime() - t0) / 1e9)
    }

    def awaitExecutors(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 120000L
      while (executorPids().size < n) {
        require(System.currentTimeMillis() < deadline,
          s"cluster never (re-)reached $n executors")
        Thread.sleep(500)
      }
    }

    val results = names.map { name =>
      awaitExecutors(2)
      val (healthyRows, healthySec) = canon(name)
      // chaos pass: kill one executor at ~40% of the healthy runtime;
      // retry with an earlier kill if the query won the race
      var attempt = 0
      var killDelayMs = math.max((healthySec * 0.4 * 1000).toLong, 300L)
      var midQuery = false
      var chaosRows: Seq[String] = Nil
      var chaosSec = 0.0
      while (!midQuery && attempt < 3) {
        attempt += 1
        awaitExecutors(2)
        val victims = executorPids()
        @volatile var killed = false
        @volatile var victimPid = -1L
        val killer = new Thread(() => {
          Thread.sleep(killDelayMs)
          victims.headOption.foreach { v =>
            victimPid = v.pid()
            killed = v.destroyForcibly()
          }
        })
        killer.setDaemon(true)
        val t0 = System.nanoTime()
        killer.start()
        spark.catalog.clearCache()
        graft.operators.LoopCache.clearMemo()
        val q = qs.find(_.name == name).get
        chaosRows = q.fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
        chaosSec = (System.nanoTime() - t0) / 1e9
        killer.join(10000)
        // the kill landed mid-query iff it fired (and hit a live victim)
        // BEFORE the action returned
        midQuery = killed && chaosSec * 1000 > killDelayMs
        if (!midQuery) killDelayMs = math.max(killDelayMs / 3, 100L)
        System.err.println(f"[chaos] $name attempt $attempt: victim=" +
          f"$victimPid killed=$killed delay=${killDelayMs}ms " +
          f"healthy=$healthySec%.2fs chaos=$chaosSec%.2fs mid=$midQuery")
      }
      val identical = chaosRows == healthyRows
      require(identical,
        s"$name: recovered result diverged from healthy run " +
          s"(${chaosRows.size} vs ${healthyRows.size} rows)")
      (name, healthySec, chaosSec, midQuery, identical, attempt)
    }

    val line = graft.ArtifactJson.text(this.line(master, sfDir, results))
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** One gate run: per query, the healthy and chaos seconds, whether the
    * kill landed mid-query, whether the rows matched, and the attempts —
    * the line `tools/check_chaos_kill.sh` parses. */
  private[graft] def line(master: String, sfDir: String,
      results: Seq[(String, Double, Double, Boolean, Boolean, Int)]): JObject =
    ("gate" -> "chaos_kill") ~ ("master" -> master) ~ ("sf" -> sfDir) ~
      ("results" -> results.toList.map { case (n, h, c, mid, id, att) =>
        ("query" -> n) ~ ("healthy_sec" -> fixed(h, 2)) ~
          ("chaos_sec" -> fixed(c, 2)) ~ ("kill_mid_query" -> mid) ~
          ("identical" -> id) ~ ("attempts" -> att)
      })
}
