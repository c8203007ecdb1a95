package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.TaskEnvelope

/** The bench's JSON fields and artifact paths. */
class BenchSpec extends AnyFunSuite {

  test("cpusJson: a bare number only for ASCII digits, else an escaped string") {
    assert(Bench.cpusJson("32") == "32")
    assert(Bench.cpusJson("*") == "\"*\"")
    assert(Bench.cpusJson("") == "\"\"")
    // non-ASCII digits pass Char.isDigit but are not a JSON number
    assert(Bench.cpusJson("٣") == "\"٣\"")
    assert(Bench.cpusJson("4\"x\\") == "\"4\\\"x\\\\\"")
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
    val parsed = parse(Bench.profilesJson(envs))
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
    assert(Bench.profilesJson(Nil) == "{}")
  }
}
