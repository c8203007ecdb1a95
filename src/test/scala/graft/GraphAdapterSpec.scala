package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Hits, LabelPropagation, PageRank}

/** The edge-list entry points of the graph loops build an adjacency
  * layout and run the adjacency loop; these specs pin what that layout
  * does with a DUPLICATE edge, with values replayed by hand. */
class GraphAdapterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 1→3 is listed twice; 1→2, 2→1 and 3→1 once
  private def edges =
    Seq((1L, 2L), (1L, 3L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")

  private def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("PageRank: a doubled edge counts twice in outdeg and carries its tokens twice") {
    val got = pairs(EdgeLoops.pageRank(edges, "src", "dst", iterations = 1))
    val T = 150000000000L; val init = 1000000000000L
    val c1 = init * 85L / (100L * 3L) // node 1: outdeg 3, not 2
    val c2 = init * 85L / 100L        // nodes 2 and 3: outdeg 1
    assert(got == Map(1L -> (T + 2 * c2), 2L -> (T + c1), 3L -> (T + 2 * c1)))
  }

  test("HITS: a doubled edge adds its score twice to both sums") {
    val got = Hits.scores(edges, "src", "dst", rounds = 1).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // hubs start at 10^6. auth raw: 1 ← 2,3 = 2·10^6; 2 ← 1 = 10^6;
    // 3 ← 1 twice = 2·10^6; max 2·10^6 → divisor 2.
    // hub raw over auth/2: 1 → 2 once + 3 twice = 0.5·10^6 + 2·10^6;
    // 2 → 1 and 3 → 1 = 10^6 each; max 2.5·10^6 → divisor 2.
    assert(got == Map(
      ("auth", 1L) -> 1000000L, ("auth", 2L) -> 500000L,
      ("auth", 3L) -> 1000000L,
      ("hub", 1L) -> 1250000L, ("hub", 2L) -> 500000L,
      ("hub", 3L) -> 500000L))
  }

  test("LPA: a pair listed twice, in either orientation, is one neighbor") {
    // node 1's neighbors are {2, 3}: one vote each, tie to the smaller
    // label 2. Counted per row, {1,3} (3 rows) would outvote {1,2} (2).
    val got = pairs(EdgeLoops.lpaCommunities(edges, "src", "dst", rounds = 1))
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }
}
