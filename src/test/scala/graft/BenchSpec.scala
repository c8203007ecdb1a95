package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's hand-built JSON fields and artifact paths. */
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
}
