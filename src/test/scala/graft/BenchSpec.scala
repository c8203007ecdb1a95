package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.ArtifactJson.text
import graft.tools.TaskEnvelope

/** The bench's JSON fields and artifact paths. */
class BenchSpec extends AnyFunSuite {

  test("cpusJson: a bare number only for ASCII digits, else an escaped string") {
    def cpusJson(cpus: String) = text(Bench.cpusJson(cpus))
    assert(cpusJson("32") == "32")
    assert(cpusJson("*") == "\"*\"")
    assert(cpusJson("") == "\"\"")
    // non-ASCII digits pass Char.isDigit but are not a JSON number
    assert(cpusJson("٣") == "\"٣\"")
    assert(cpusJson("4\"x\\") == "\"4\\\"x\\\\\"")
  }

  test("cpusKeyedPath: the extension is looked for in the file name only") {
    assert(Bench.cpusKeyedPath("/x/BENCH_DETAIL.json", "32") == "/x/BENCH_DETAIL_c32.json")
    assert(Bench.cpusKeyedPath("/x/run.d/BENCH", "32") == "/x/run.d/BENCH_c32")
    assert(Bench.cpusKeyedPath("BENCH", "8") == "BENCH_c8")
  }

  test("profilesJson: parses with json4s and round-trips every counter") {
    val envs = Seq(
      "q01_kpi_daily" -> TaskEnvelope.Env(1.5, peakTaskMem = 3L << 33,
        shuffleWrite = 123456789012L, shuffleRead = 123456789012L,
        input = 42L, memSpill = 7L, diskSpill = 0L, jobs = 3L, stages = 5L,
        tasks = 97L, cpuNs = 9876543210123L, runMs = 4321L, gcMs = 12L),
      "q\"odd\\name" -> TaskEnvelope.Env(0.0, 0L, 0L, 0L, 0L, 0L, 0L,
        0L, 0L, 0L, 0L, 0L, 0L))
    val parsed = parse(text(Bench.profilesJson(envs)))
    implicit val formats: Formats = DefaultFormats
    assert(parsed.asInstanceOf[JObject].obj.map(_._1) == envs.map(_._1))
    for ((name, e) <- envs) {
      val p = parsed \ name
      def num(k: String): Long = (p \ k).extract[Long]
      assert(Seq("jobs", "stages", "tasks", "cpu_ns", "run_ms", "gc_ms",
          "shuffle_write", "shuffle_read", "input", "mem_spill", "disk_spill",
          "peak_task_mem").map(num) ==
        Seq(e.jobs, e.stages, e.tasks, e.cpuNs, e.runMs, e.gcMs,
          e.shuffleWrite, e.shuffleRead, e.input, e.memSpill, e.diskSpill,
          e.peakTaskMem), name)
    }
    assert(text(Bench.profilesJson(Nil)) == "{}")
  }

  private val oddSf = "/data/we\"ird\\sf"
  private def env(jobs: Long) = TaskEnvelope.Env(0.5, 1L, 2L, 3L, 4L, 5L, 6L,
    jobs, 2L, 3L, 1000000L, 7L, 1L)
  private def run(sec: Double, jobs: Long = 1L) = Bench.Run(sec, env(jobs))
  private val staged = org.json4s.jackson.JsonMethods.parse(
    """{"copurchase_adj":1.250,"copurchase_nodes":"prebuilt"}""")
  private def audit(ref: Option[(Double, String)], contended: Option[Boolean]) =
    Bench.Audit(oddSf, "4", "all-sf0.001", 1.5, Seq(1.6, 1.5, 1.55), ref,
      contended, staged)
  private def keys(line: String): List[String] =
    parse(line).asInstanceOf[JObject].obj.map(_._1)

  test("every Bench, BenchStream and probe line parses and keeps its keys, " +
    "whatever the sf path holds") {
    val a = audit(Some((1.45, "sentinel_ref_vm_c4")), Some(false))
    val cold = Seq("q01" -> run(2.0), "q02" -> run(-1.0), "q03" -> run(1.0))
    val passB = Seq("q01" -> run(1.5), "q02" -> run(0.7, 0L), "q03" -> run(-1.0))
    val detail = "/out/BENCH_\"DETAIL\".json"
    val sfKeys = List("sf", "cpus", "sentinel_base", "sentinel_ref",
      "sentinel_ref_source", "total_floor_normalized")
    val prodcold = List("metric", "value", "unit", "warmup") ++ sfKeys ++
      List("sentinels", "contended", "staged", "queries")
    assert(keys(text(Bench.prodcoldLine(a, cold, withProfiles = false))) == prodcold)
    assert(keys(text(Bench.prodcoldLine(a, cold, withProfiles = true))) ==
      prodcold :+ "profiles")
    val d = parse(text(Bench.detailLine(a, "suite", cold, passB, Seq("q02" -> 1))))
    assert(d.asInstanceOf[JObject].obj.map(_._1) ==
      List("metric", "value", "unit", "warmup", "cache_scope", "total_cold",
        "queries_cold", "failed", "partial", "attempt_failures") ++ sfKeys ++
      List("sentinels", "contended", "staged", "queries", "profiles_cold",
        "profiles", "reuse"))
    implicit val formats: Formats = DefaultFormats
    assert((d \ "sf").extract[String] == oddSf)
    assert((d \ "staged") == staged)
    // q01 min-merges to 1.5, q02 fails cold but not warm, q03 the reverse
    assert((d \ "queries").extract[Map[String, Double]] ==
      Map("q01" -> 1.5, "q02" -> 0.7, "q03" -> 1.0))
    assert((d \ "value").extract[Double] == 3.2)
    assert((d \ "total_cold").extract[Double] == 3.0)
    assert((d \ "failed").extract[List[String]] == Nil)
    assert((d \ "partial").extract[List[String]] == List("q02", "q03"))
    assert((d \ "reuse").extract[List[String]] == List("q02"))
    assert((d \ "total_floor_normalized").extract[Double] == 3.093)
    assert(keys(text(Bench.shortLine(a, "suite", cold, passB, detail))) ==
      List("metric", "value", "unit", "warmup", "cache_scope", "total_cold",
        "n_queries", "failed", "partial") ++ sfKeys ++
      List("contended", "staged", "detail", "queries_truncated", "queries_top20"))
    val mini = Bench.miniLine("total", a,
      (1 to 200).map(i => s"q${i}_\"named\\query" -> i.toDouble), detail)
    assert(keys(mini) == List("metric", "value", "unit", "sf", "cpus",
      "n_queries", "contended", "detail", "queries_truncated", "queries"))
    assert(mini.length <= 1850)
    assert((parse(mini) \ "detail").extract[String] == detail)
    assert(keys(text(Bench.historyLine("2026-10-19T00:00:00Z", a, "two-pass"))) ==
      List("ts", "floor", "ref", "contended", "sf", "cpus", "mode"))

    val tiers = Seq(
      BenchStream.TierResult("sessions", 100L, 2.0, 8, 10L, 1000L),
      BenchStream.TierResult("funnel", 0L, -1.0, 0, 0L, 0L),
      BenchStream.TierResult("dedup", 50L, 1.0, 8, 5L, 500L, timedOut = true))
    val stream = parse(text(BenchStream.line(oddSf, Some(Set("sessions", "dedup")), tiers)))
    assert(stream.asInstanceOf[JObject].obj.map(_._1) ==
      List("metric", "value", "tiers_filtered", "unit", "sf", "tiers"))
    assert((stream \ "value") == JNull)
    assert((stream \ "sf").extract[String] == oddSf)
    assert((stream \ "tiers").asInstanceOf[JObject].obj.map(_._1) ==
      List("sessions", "dedup"))
    assert((stream \ "tiers" \ "sessions").asInstanceOf[JObject].obj.map(_._1) ==
      List("rows", "sec", "rows_per_sec", "batches", "state_rows",
        "state_bytes", "timed_out"))
    assert(keys(text(BenchStream.line(oddSf, None, tiers.take(1)))) ==
      List("metric", "value", "unit", "sf", "tiers"))

    val chaosLine = text(graft.tools.ChaosKillProbe.line(
      "local-cluster[2,1,1024]", oddSf, Seq(("q12", 1.234, 5.678, true, true, 2))))
    assert(keys(chaosLine) == List("gate", "master", "sf", "results"))
    assert((parse(chaosLine) \ "sf").extract[String] == oddSf)
    assert(chaosLine.endsWith(""""results":[{"query":"q12","healthy_sec":1.23,""" +
      """"chaos_sec":5.68,"kill_mid_query":true,"identical":true,"attempts":2}]}"""))
  }

  test("ChaosKillProbe sizes executors to the local-cluster worker unless told") {
    import graft.cli.CliUtil.{clusterConfs, executorMemory}
    assert(executorMemory("local-cluster[2,2,2048]", None) == "2048m")
    assert(executorMemory("local-cluster[2, 8, 8192]", None) == "8192m")
    assert(executorMemory("local-cluster[2,2,2048]", Some("1536m")) == "1536m")
    // the confs Verify and ChaosKillProbe both start a local-cluster with
    val small = "local-cluster[2,2,2048]"
    val confs = clusterConfs(small, Map("SPARK_GRAFT_JARS" -> "graft.jar"))
    assert(confs.keySet == Set("spark.jars", "spark.executor.extraJavaOptions",
      "spark.executor.memory"))
    assert(confs("spark.jars") == "graft.jar")
    assert(confs("spark.executor.memory") == "2048m")
    val opens = confs("spark.executor.extraJavaOptions").split(" ").grouped(2).toSeq
    assert(opens.size == 13 && opens.forall(_.head == "--add-opens"))
    assert(opens.map(_(1)).contains("java.base/sun.nio.ch=ALL-UNNAMED"))
    assert(clusterConfs(small, Map("SPARK_GRAFT_JARS" -> "graft.jar",
      "SPARK_GRAFT_EXECUTOR_MEM" -> "1536m"))("spark.executor.memory") == "1536m")
    intercept[IllegalArgumentException](clusterConfs(small, Map.empty))
  }

  test("provenanceJson keeps its text for derived, prebuilt and waited stages") {
    import graft.operators.Staging
    Staging.resetProvenance()
    try {
      Staging.recordStage("copurchase_adj", Some(12.3456), "prebuilt")
      Staging.recordStage("tiny", Some(0.0004), "prebuilt")
      Staging.recordStage("big", Some(1234567.0), "prebuilt")
      Staging.recordStage("copurchase_nodes", None, "prebuilt")
      Staging.recordStage("race_gate", None, "waited")
      // first record per name wins
      Staging.recordStage("copurchase_adj", None, "prebuilt")
      assert(Staging.provenanceJson ==
        """{"copurchase_adj":12.346,"tiny":0.000,"big":1234567.000,""" +
          """"copurchase_nodes":"prebuilt","race_gate":"waited"}""")
    } finally Staging.resetProvenance()
  }

  test("a run with no reference for its (host, cpus) reports contended and " +
    "the normalized total as null") {
    val dir = java.nio.file.Files.createTempDirectory("graft-calibration")
    val file = java.nio.file.Files.write(dir.resolve("sentinel_ref_vm_c32"),
      "0.1087\n".getBytes)
    try {
      assert(Bench.sentinelRef(dir, "vm", "32") == Some((0.1087, "sentinel_ref_vm_c32")))
      assert(Bench.sentinelRef(dir, "vm", "4").isEmpty)
      assert(Bench.sentinelRef(dir, "other", "32").isEmpty)
    } finally { java.nio.file.Files.delete(file); java.nio.file.Files.delete(dir) }
    // no reference: unknown unless a relative detector fired
    assert(Bench.verdict(drifted = false, 1.5, None).isEmpty)
    assert(Bench.verdict(drifted = true, 1.5, None).contains(true))
    // with one: the absolute check decides a run no relative detector flagged
    assert(Bench.verdict(drifted = false, 1.5, Some(1.45)).contains(false))
    assert(Bench.verdict(drifted = false, 2.0, Some(1.45)).contains(true))
    val a = audit(None, Bench.verdict(drifted = false, 1.5, None))
    val runs = Seq("q01" -> run(1.0))
    for (line <- Seq(text(Bench.prodcoldLine(a, runs, withProfiles = true)),
        text(Bench.shortLine(a, "suite", runs, runs, "/d.json")))) {
      val p = parse(line)
      assert((p \ "contended") == JNull, line)
      assert((p \ "total_floor_normalized") == JNull, line)
      assert((p \ "sentinel_ref") == JNull, line)
      assert((p \ "sentinel_ref_source") == JString("none"), line)
    }
    assert((parse(Bench.miniLine("total", a, Seq("q01" -> 1.0), "/d.json")) \
      "contended") == JNull)
    assert((parse(text(Bench.historyLine("t", a, "prodcold"))) \ "contended") == JNull)
  }

  test("utf8Stdout prints a line with a non-ASCII sf path as UTF-8 bytes") {
    val a = audit(None, None).copy(sf = "/datos/año/sf0.01_ñ")
    val line = Bench.miniLine("total", a, Seq("q01" -> 1.0), "/d.json")
    assert(line.contains("año/sf0.01_ñ"), line)
    val buf = new java.io.ByteArrayOutputStream()
    graft.cli.CliUtil.utf8Stdout(buf)(println(line))
    assert(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8) ==
      line + System.lineSeparator())
  }
}
